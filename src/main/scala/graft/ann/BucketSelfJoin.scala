package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared tail of the bulk k-NN *self*-join (reference Q4,
  * src/main.rs:100-123) over an already-routed corpus — used by both
  * forest backends ([[AnnForestModel.knnSelfJoinBucketed]] routes first;
  * [[DistributedAnnModel.knnSelfJoin]] reuses its standing bucket table
  * with zero routing work).
  *
  * Members of each (tree_id, leaf_id) bucket are gathered with
  * collect_list and all ordered pairs are generated in place with two
  * Generates: no self-join, so the routed rows cross exactly one
  * vector-bearing shuffle (the bucket groupBy) instead of two join-side
  * exchanges. The dedup+top-k tail is the same single-shuffle shape as
  * [[AnnForestModel.knnJoinBucketed]]: hash-partitioning the compact
  * (query_id, neighbor_id, dist) candidates by query_id alone satisfies
  * ClusteredDistribution for both the min-dedup aggregate and
  * TopKPerKey, so EnsureRequirements inserts no further exchange.
  *
  * Skew note: a bucket with m members emits m² candidate rows — the
  * same blowup the join formulation has — and m is bounded by the fit
  * leaf cap plus exact-duplicate multiplicity.
  *
  * Round-5 profile (sf0.1, local[32], warm, ProfileQ35): this
  * path runs 0.80 s (0.97 s with the bench's orderBy), vs 1.04-1.20 s
  * for the two-sided join formulation — the round-4 bench's 3.08 s
  * reading was host contention, not plan cost (same code, while the
  * rest of the bench moved only ~0.9×). A measured alternative — one
  * per-bucket UDF emitting compact (q, n, dist) triples through a
  * single Generate — was ~0.1 s faster warm (0.69 s) but is REJECTED:
  * it materializes all m² triples of a bucket in one array, which on
  * depth-capped distributed-forest buckets (m ≫ maxLeafSize by design)
  * trades a streamed expansion for an allocation proportional to the
  * square of the largest bucket. The double-Generate streams pairs and
  * keeps peak memory per task at O(m·dim).
  */
private[ann] object BucketSelfJoin {

  /** The canonical dedup+top-k tail shared by every kNN join backend
    * (bucketed forest, distributed forest, IVF, and the self-joins).
    * Input: compact candidate triples (query_id, neighbor_id, dist),
    * possibly with duplicates of a (query, neighbor) pair from
    * different trees/probed cells — all carrying the same or
    * re-computable distance, so min-agg is the union.
    *
    * ONE exchange for the whole tail: hash-partitioning by query_id
    * alone satisfies the ClusteredDistribution of BOTH the min-dedup
    * aggregate (grouping (q, n) ⊇ {q}) and TopKPerKey's final pass, so
    * EnsureRequirements inserts no further shuffle. The alternative —
    * letting the agg shuffle on (q, n) and top-k re-shuffle on q —
    * moves the same rows twice, and the partial agg would compress
    * almost nothing first: duplicates of a (q, n) pair come from
    * different (tree, leaf) partitions. */
  def dedupTopK(candidates: DataFrame, topK: Int): DataFrame = {
    val deduped = candidates
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("dist")).as("dist"))
    graft.plans.TopKPerKey.rankedTopK(
      deduped, "query_id", Seq("dist", "neighbor_id"), topK)
  }

  /** Radius tail: the distance-threshold counterpart of [[dedupTopK]].
    * The `dist <= maxDist` filter runs on the candidate stream BEFORE
    * any exchange (map-side pruning — at a selective radius almost all
    * candidate volume dies before the shuffle), then one partial-agg
    * groupBy dedups (query, neighbor) pairs found in several
    * trees/probed cells. No per-query tail op follows, so the agg's own
    * (query_id, neighbor_id) hash exchange is the single shuffle —
    * map-side combined, unlike dedupTopK's repartition-first shape
    * whose explicit exchange exists to be shared with TopKPerKey. */
  def dedupRadius(candidates: DataFrame, maxDist: Double): DataFrame =
    candidates
      .filter(col("dist") <= maxDist)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("dist")).as("dist"))

  /** `routed` schema: (tree_id, leaf_id, neighbor_id, <vecCol>); under
    * metric="cosine" the vectors must already be normalized (both
    * callers' routed tables are).
    *
    * `saltBlocks` (R): with R > 1, each member is hashed to one of R
    * blocks and a bucket's pairs are computed in R² (query-block,
    * neighbor-block) sub-groups instead of one — an oversized bucket's
    * m² pair generation spreads across R² tasks at the cost of
    * shuffling the routed rows 2R× instead of 1×. Result-identical for
    * any R (each ordered pair lands in exactly one sub-group). Total
    * pair work is unchanged, so this is straggler insurance for
    * duplicate-heavy or depth-capped corpora whose largest buckets
    * would otherwise serialize a stage on one executor. Measured ~2×
    * SLOWER on one shared-memory node at R=4 (the 2R-fold routed-row
    * replication is pure cost when no straggler exists — same honest
    * caveat as SkewJoin): leave at 1 unless bucket-size skew is the
    * observed bottleneck. */
  def pairsTopK(routed: DataFrame, vecCol: String, topK: Int,
      saltBlocks: Int = 1): DataFrame = {
    import graft.functions.VectorFunctions.sqEucDist
    require(saltBlocks >= 1, s"saltBlocks must be >= 1, got $saltBlocks")
    val member = struct(col("neighbor_id"), col(vecCol))
    val candidatePairs =
      if (saltBlocks == 1) {
        routed
          .groupBy(col("tree_id"), col("leaf_id"))
          .agg(collect_list(member).as("__qs"))
          .withColumn("__ns", col("__qs"))
      } else {
        val r = saltBlocks
        val blk = pmod(xxhash64(col("neighbor_id")), lit(r)).cast("int")
        val every = explode(sequence(lit(0), lit(r - 1)))
        // each row: query role in (own block, every neighbor block),
        // neighbor role in (every query block, own block)
        val qRep = routed.select(col("tree_id"), col("leaf_id"),
          blk.as("__bq"), every.as("__bn"), member.as("__m"), lit(true).as("__isq"))
        val nRep = routed.select(col("tree_id"), col("leaf_id"),
          every.as("__bq"), blk.as("__bn"), member.as("__m"), lit(false).as("__isq"))
        qRep.unionByName(nRep)
          .groupBy(col("tree_id"), col("leaf_id"), col("__bq"), col("__bn"))
          .agg( // collect_list drops the nulls of the opposite role
            collect_list(when(col("__isq"), col("__m"))).as("__qs"),
            collect_list(when(!col("__isq"), col("__m"))).as("__ns"))
      }
    val candidates = candidatePairs
      .select(explode(col("__qs")).as("__q"), col("__ns"))
      .select(
        col("__q.neighbor_id").as("query_id"),
        col(s"__q.$vecCol").as("__qv"),
        explode(col("__ns")).as("__n"))
      .select(
        col("query_id"),
        col(s"__n.neighbor_id").as("neighbor_id"),
        sqEucDist(col(s"__n.$vecCol"), col("__qv")).as("dist"))
    dedupTopK(candidates, topK) // union across trees and blocks
  }
}
