package graft.ann

import scala.util.Random

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row


/** One hit of the SQL knn face — a named struct so SQL reads
  * `h.neighbor_id` / `h.dist` instead of `_1` / `_2`. */
case class KnnHit(neighbor_id: Long, dist: Double)

/** Hyperplane in implicit form n·x + c = 0 (reference src/hyperplane.rs:3-6).
  * [[DistributedAnnForest]]'s plane map holds these; the driver-side
  * forest keeps its planes flat in [[CompactIndex]] with the same
  * arithmetic. */
case class HyperPlane(coefficients: Array[Float], constant: Float) extends Serializable {
  /** Signed unnormalized margin n·x + c. Accumulates in double — the
    * reference sums f32, a documented precision divergence that only
    * moves points sitting exactly on a plane. */
  def signedMargin(v: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < coefficients.length) { acc += coefficients(i).toDouble * v(i); i += 1 }
    acc + constant
  }

  /** Sidedness: n·x + c ≥ 0 ⇒ "above"; ties go above
    * (reference src/hyperplane.rs:9-11). */
  def isAbove(v: Array[Float]): Boolean = signedMargin(v) >= 0.0

  /** ‖n‖ — divides [[signedMargin]] into a true point-to-plane
    * distance (the spill-routing criterion). Computed once per
    * executor-side object. */
  @transient lazy val norm: Double = {
    var acc = 0.0
    var i = 0
    while (i < coefficients.length) {
      acc += coefficients(i).toDouble * coefficients(i).toDouble
      i += 1
    }
    math.sqrt(acc)
  }
}

/** The fitted index (reference ANNIndex, src/lib.rs:15-19): a forest of
  * random-bisector trees + the dedup'd store, held once, as the
  * primitive arrays of [[compact]]. `ids(i)` is the external id of
  * stored row i; leaves hold row positions, not external ids
  * (reference src/lib.rs:90-91).
  *
  * Scale shape: the *forest* (hyperplanes only, ~numTrees·(n/maxLeaf)·dim
  * floats) is broadcast — the analog of a broadcast-hash-join build side.
  * The reference also keeps the whole vector store in process RAM
  * (src/lib.rs:15-19); we hold it alongside the forest for the
  * reference-parity search path, and additionally expose
  * [[AnnForestModel.assignLeaves]] so that at 100 TB the store stays a
  * DataFrame and candidate matching becomes a co-partitioned
  * (treeId, leafId) equi-join instead of a broadcast lookup.
  *
  * `compact` is the model's only in-memory form: [[AnnForest.fit]] (or
  * [[AnnForestModel.load]]) writes it, every search reads it, and the
  * broadcasts below ship it (or its structure-only copy) directly,
  * never `this`.
  */
class AnnForestModel(
    val compact: CompactIndex,
    val metric: String = "euclidean") extends Serializable {

  /** External id of each stored row. */
  def ids: Array[Long] = compact.ids

  /** Normalize a query when the model is cosine-metric (the store was
    * normalized at fit; dist = 2·(1−cos) on the unit sphere). */
  private[ann] def prepQuery(q: Array[Float]): Array[Float] =
    if (q == null || metric != "cosine") q else AnnForestModel.l2NormalizeJvm(q)

  // Broadcasts are cached per model: searchBatch / assignLeaves are
  // called repeatedly against a standing model (every batch of a
  // streaming ingest, both sides of a bucketed join), and re-broadcasting
  // a multi-MB plane set per call costs more than the work it feeds at
  // small batch sizes. Invalidated if the session changes (tests spin
  // up multiple sessions).
  @transient private var fullBc: (SparkSession, Broadcast[CompactIndex]) = null
  @transient private var structBc: (SparkSession, Broadcast[CompactIndex]) = null

  private def cachedBroadcast(spark: SparkSession, structureOnly: Boolean): Broadcast[CompactIndex] =
    synchronized {
      val cur = if (structureOnly) structBc else fullBc
      if (cur != null && (cur._1 eq spark)) cur._2
      else {
        // session switched: release the stale broadcast's blocks rather
        // than waiting for GC-triggered ContextCleaner (best-effort —
        // the old session may already be stopped)
        if (cur != null) {
          try cur._2.destroy() catch { case _: Throwable => () }
        }
        val bc = spark.sparkContext.broadcast(
          if (structureOnly) compact.structureOnly else compact)
        if (structureOnly) structBc = (spark, bc) else fullBc = (spark, bc)
        bc
      }
    }

  /** Top-k ANN search for one query (reference search_approximate,
    * src/lib.rs:130-149): union candidates over trees, exact squared
    * euclidean re-rank, ascending, take k, remap to external ids.
    * Returns (id, squaredDistance) — squared, like the reference
    * (sqrt is display-only, src/main.rs:91).
    */
  def search(query: Array[Float], topK: Int): Array[(Long, Double)] =
    // NaN distances: the reference panics (src/lib.rs:142); we sort them
    // last (Double.compare total order) — documented divergence.
    compact.search(prepQuery(query), topK)

  /** Single-point radius search: all ids within `maxDist` SQUARED
    * euclidean among the query's leaf candidates (whole leaves across
    * all trees — see [[CompactIndex.searchRadius]]). Under
    * metric="cosine", maxDist = 2·(1−minCos) on the unit sphere. */
  def searchRadius(query: Array[Float], maxDist: Double): Array[(Long, Double)] =
    compact.searchRadius(prepQuery(query), maxDist)

  /** SQL face for the engine's core query (the §4.3 "revisit" item): a
    * SQL-only user reaches top-k search as a table-function-style
    * entry — `name(qvec, k)` returns ARRAY<STRUCT<neighbor_id, dist>>
    * to LATERAL VIEW (pos)explode over, and `exactName(qvec, k)` is
    * the brute sibling over the same stored rows ([[CompactIndex
    * .searchExact]] — deterministic, so q173 hash-gates the SQL face
    * against a DuckDB exact-KNN mirror while the ANN face stays
    * recall-gated, the q83 policy). Registered the q162 way: the SAME
    * model the DataFrame API serves, one source of semantics; the
    * compact index ships via the model's cached broadcast, so per-task
    * closures carry a broadcast handle, not the corpus. */
  def registerSql(spark: SparkSession, name: String = "knn",
      exactName: String = "knn_exact"): Unit = {
    val bc = cachedBroadcast(spark, structureOnly = false)
    val cosine = metric == "cosine"
    spark.udf.register(name, udf { (v: Seq[Float], k: Int) =>
      bc.value.search(AnnForestModel.queryVector(v, cosine), k)
        .map { case (id, d) => KnnHit(id, d) }.toIndexedSeq
    })
    spark.udf.register(exactName, udf { (v: Seq[Float], k: Int) =>
      bc.value.searchExact(AnnForestModel.queryVector(v, cosine), k)
        .map { case (id, d) => KnnHit(id, d) }.toIndexedSeq
    })
  }

  /** Batch ANN search, fully distributed: one task per query partition,
    * model via broadcast (no shuffle at all — the output is narrow).
    * Input: (queryIdCol LONG, vecCol ARRAY<FLOAT>). Output:
    * (query_id, neighbor_id, dist, rank).
    */
  def searchBatch(
      queries: DataFrame, topK: Int,
      queryIdCol: String = "query_id", vecCol: String = "qvec"): DataFrame = {
    val spark = queries.sparkSession
    val bc: Broadcast[CompactIndex] = cachedBroadcast(spark, structureOnly = false)
    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false),
      StructField("rank", IntegerType, nullable = false)))
    val in = graft.GraftSession.widen(queries.select(
      col(queryIdCol).cast(LongType), col(vecCol).cast(ArrayType(FloatType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val cosineMetric = metric == "cosine"
    in.mapPartitions { rows =>
      val index = bc.value
      rows.flatMap { r =>
        val qid = r.getLong(0)
        val q = AnnForestModel.queryVector(r.getSeq[Float](1), cosineMetric)
        index.search(q, topK).iterator.zipWithIndex.map { case ((nid, d), i) =>
          Row(qid, nid, d, i + 1)
        }
      }
    }(enc)
  }

  /** Bulk approximate k-NN self-join (reference Q4, src/main.rs:100-123):
    * every row of `df` queries the index. Self matches included, as the
    * reference does. */
  def knnJoin(df: DataFrame, topK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    searchBatch(
      df.select(col(idCol).as("query_id"), col(vecCol).as("qvec")), topK)

  /** 100 TB path: route every corpus vector to its (treeId, leafId)
    * bucket *distributively* (no driver collection). Queries routed the
    * same way join on the bucket key — an LSH-style co-partitioned
    * equi-join whose shuffle is on a compact int pair, never on vectors
    * crossing a broadcast boundary.
    */
  def assignLeaves(df: DataFrame, vecCol: String = "embedding",
      spillEps: Double = 0.0, maxLeavesPerTree: Int = 4): DataFrame = {
    // fail fast on the driver: a 0-leaf budget inside the routing UDF
    // would silently route every row to nothing
    require(spillEps <= 0.0 || maxLeavesPerTree >= 1,
      s"maxLeavesPerTree must be >= 1 when spilling, got $maxLeavesPerTree")
    val spark = df.sparkSession
    // Broadcast only topology+planes (compact, store stripped). Under
    // metric="cosine" the planes were fit on a NORMALIZED store and
    // n·v + c is not scale-invariant — raw vectors must be normalized
    // here too or they route to the wrong leaves.
    val bc = cachedBroadcast(spark, structureOnly = true)
    val cosineMetric = metric == "cosine"
    val leafIdUdf = udf { (v: Seq[Float]) =>
      val q = AnnForestModel.queryVector(v, cosineMetric)
      if (spillEps > 0.0) bc.value.leafPathsSpill(q, spillEps, maxLeavesPerTree).toSeq
      else bc.value.leafPaths(q).toSeq
    }
    // explode_outer, not explode: InferFiltersFromGenerate would add
    // `size(UDF(v)) > 0 AND isnotnull(UDF(v))` below a non-outer Generate,
    // and Scala UDFs get no common-subexpression elimination — the 50-tree
    // routing traversal would run 3× per row (measured). leafPaths always
    // returns one path per tree (never empty/null), so outer semantics
    // are identical and the UDF runs exactly once per row.
    df.withColumn("__buckets", leafIdUdf(col(vecCol)))
      .withColumn("__b", explode_outer(col("__buckets")))
      .select(
        df.columns.toIndexedSeq.map(col) :+
          col("__b._1").as("tree_id") :+
          col("__b._2").as("leaf_id"): _*)
  }

  /** The 100 TB k-NN join: route corpus and queries to (treeId, leafId)
    * buckets distributively, equi-join on the bucket key, union
    * candidates across trees, exact re-rank per query.
    *
    * Versus the broadcast [[knnJoin]] (reference-parity traversal): no
    * vector store on the driver or in a broadcast — the store stays a
    * DataFrame end to end, the only wide ops are (a) one shuffle of each
    * side on a compact (int, long) bucket key and (b) the per-query
    * top-k window. Candidates are whole leaves (no first-n truncation /
    * shortfall spill — those are artifacts of the reference's serial
    * traversal); recall is ≥ the traversal's for the same forest. For a
    * standing corpus, persist `assignLeaves(corpus)` bucketed by
    * (tree_id, leaf_id) and the corpus-side shuffle disappears from
    * every subsequent query batch.
    *
    * `corpusFilter` = attribute-filtered kNN ("nearest neighbors WHERE
    * lang = 'en'"), the canonical production vector-search query shape.
    * The predicate is applied to the raw corpus BEFORE routing — below
    * the bucket exchange, so Catalyst pushes it into the corpus scan
    * (asserted in PlanSpec) and non-matching rows are never routed,
    * shuffled, or scored. Pre-filtering also keeps the result size k
    * (post-filtering an unfiltered top-k would return fewer than k rows
    * under selective predicates); candidates are the filtered rows
    * sharing a leaf with the query, so recall is measured against the
    * filtered exact oracle (AnnForestSpec). For very high selectivity
    * (predicate keeps ≪ leaf-size rows), widen the forest (more trees)
    * as you would for any sparse-candidate regime.
    */
  def knnJoinBucketed(
      corpus: DataFrame, queries: DataFrame, topK: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "qvec",
      corpusFilter: Option[Column] = None,
      querySpillEps: Double = 0.0, queryMaxLeaves: Int = 4): DataFrame =
    // union across trees + bounded-heap top-k, one exchange for the
    // whole tail (see BucketSelfJoin.dedupTopK for the partitioning
    // argument)
    BucketSelfJoin.dedupTopK(
      bucketCandidates(corpus, queries, corpusId, corpusVec, queryId, queryVec,
        corpusFilter, querySpillEps, queryMaxLeaves),
      topK)

  /** Shared route/join/score head of the bucketed top-k and radius
    * joins (mirrors DistributedAnnModel.bucketCandidates /
    * IvfModel.cellCandidates).
    *
    * `querySpillEps` > 0 enables QUERY-SIDE spill routing: queries
    * within eps of a split plane probe both children (bounded by
    * `queryMaxLeaves` leaves per tree) — the recall knob that costs
    * only extra probed buckets, never touches the corpus side, and so
    * composes with a persisted/standing corpus bucket table unchanged.
    * Any eps > 0 probes a superset of the eps = 0 buckets, so recall
    * vs the single-path walk never drops (specced); see
    * [[CompactIndex.leafPathsSpill]] for why eps-vs-eps under a leaf
    * cap is empirical rather than guaranteed. */
  private def bucketCandidates(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      corpusFilter: Option[Column],
      querySpillEps: Double = 0.0, queryMaxLeaves: Int = 4): DataFrame = {
    import graft.functions.VectorFunctions.{l2Normalize, sqEucDist}
    // carried vectors must be normalized under cosine so the re-rank
    // distance is 2·(1−cos); routing normalizes independently inside
    // assignLeaves (which must handle direct public calls too)
    def prep(c: Column) = if (metric == "cosine") l2Normalize(c) else c
    val corpusSrc = corpusFilter.map(corpus.filter).getOrElse(corpus)
    val corpusRouted = assignLeaves(
      corpusSrc.select(col(corpusId).as("neighbor_id"), prep(col(corpusVec)).as("__cvec")), "__cvec")
    val queriesRouted = assignLeaves(
      queries.select(col(queryId).as("query_id"), prep(col(queryVec)).as("__qv")), "__qv",
      spillEps = querySpillEps, maxLeavesPerTree = queryMaxLeaves)
    queriesRouted
      .join(corpusRouted, Seq("tree_id", "leaf_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        sqEucDist(col("__cvec"), col("__qv")).as("dist"))
  }

  /** Distance-threshold ("radius") join via the bucket path: the same
    * routing + (tree_id, leaf_id) equi-join as [[knnJoinBucketed]], with
    * the top-k tail replaced by a `dist ≤ maxDist` filter and a pair
    * dedup ([[BucketSelfJoin.dedupRadius]]). `maxDist` is SQUARED
    * euclidean, like every dist this engine returns (under
    * metric="cosine", dist = 2·(1−cos), so maxDist = 2·(1−minCos)).
    *
    * Approximate exactly the way top-k search is: a pair is reported
    * only if it shares a leaf in ≥ 1 tree, so recall < 1 is possible at
    * any radius — measured against [[graft.operators.KnnExact.radiusJoin]]
    * (the exact oracle) in AnnForestSpec. Scale shape is strictly
    * better than the top-k tail: the threshold filter prunes candidates
    * before the only shuffle, and there is no per-query window/heap at
    * all. `corpusFilter` composes as in [[knnJoinBucketed]]. */
  def radiusJoinBucketed(
      corpus: DataFrame, queries: DataFrame, maxDist: Double,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "qvec",
      corpusFilter: Option[Column] = None,
      querySpillEps: Double = 0.0, queryMaxLeaves: Int = 4): DataFrame =
    BucketSelfJoin.dedupRadius(
      bucketCandidates(corpus, queries, corpusId, corpusVec, queryId, queryVec,
        corpusFilter, querySpillEps, queryMaxLeaves),
      maxDist)

  /** Bulk k-NN self-join (reference Q4, src/main.rs:100-123: every corpus
    * vector is also a query) — result-identical to
    * `knnJoinBucketed(corpus, corpus, k)` but routes the store through
    * the forest ONCE. The 50-tree traversal UDF is the dominant kernel
    * of the bucketed path; the general two-sided form must run it per
    * side, while here one routed table feeds both roles: members of each
    * (tree_id, leaf_id) bucket are gathered with collect_list and all
    * ordered pairs are generated in place with two Generates — no
    * self-join, no second routing pass, and one fewer vector-bearing
    * shuffle (the bucket groupBy moves each routed row once; the join
    * formulation shuffles both sides).
    *
    * Skew note: a bucket with m members emits m² candidate rows either
    * way (join or pair-generation) — leaf size is capped at fit time, so
    * m stays ~maxLeafSize plus exact-duplicate multiplicity.
    */
  def knnSelfJoinBucketed(
      corpus: DataFrame, topK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      saltBlocks: Int = 1): DataFrame = {
    import graft.functions.VectorFunctions.l2Normalize
    def prep(c: org.apache.spark.sql.Column) =
      if (metric == "cosine") l2Normalize(c) else c
    val routed = assignLeaves(
      corpus.select(col(idCol).as("neighbor_id"), prep(col(vecCol)).as("__cvec")), "__cvec")
    BucketSelfJoin.pairsTopK(routed, "__cvec", topK, saltBlocks)
  }

  /** Persist the fitted model as plain parquet (portable, splittable):
    * a flattened node table + the dedup'd store. Node i of [[compact]]
    * is row `nodeId = i` (global preorder, trees in order), so the rows
    * come straight from the arrays. */
  def save(path: String, spark: SparkSession): Unit = {
    import spark.implicits._
    val c = compact
    // every builder lays tree t out as nodes [roots(t), roots(t + 1))
    val nodes = c.roots.indices.flatMap { t =>
      val end = if (t + 1 < c.roots.length) c.roots(t + 1) else c.left.length
      (c.roots(t) until end).map { i =>
        if (c.left(i) < 0)
          FlatNode(t, i, isLeaf = true, None, None, -1, -1,
            c.leafRows.slice(c.leafOff(i), c.leafOff(i) + c.leafLen(i)))
        else {
          val p = c.planeIdx(i)
          FlatNode(t, i, isLeaf = false,
            Some(c.planeCoef.slice(p * c.dim, (p + 1) * c.dim)), Some(c.planeConst(p)),
            c.left(i), c.right(i), Array.empty)
        }
      }
    }
    nodes.toDS().write.mode("overwrite").parquet(s"$path/nodes")
    // leaf rows index the store by POSITION — persist it explicitly,
    // parquet read order is not guaranteed
    c.ids.indices
      .map(pos => (pos, c.ids(pos), c.vecs.slice(pos * c.dim, (pos + 1) * c.dim)))
      .toDF("pos", "id", "vec")
      .write.mode("overwrite").parquet(s"$path/store")
    Seq(metric).toDF("metric").write.mode("overwrite").parquet(s"$path/meta")
  }
}

/** Compact primitive-array index: the forest's only in-memory form, and
  * the broadcast/search representation.
  *
  * A boxed object tree (2M nodes at 200k rows × 50 trees) costs tens of
  * seconds in Java serialization per broadcast and pointer-chases during
  * traversal; this layout is a handful of primitive arrays —
  * serialization is a memcpy, traversal is array indexing, and the
  * vector store is ONE flat float array (row r at offset r·dim).
  * Traversal follows the reference's tree walk (first-n leaf take,
  * shortfall spill, ties above — reference src/lib.rs:105-128).
  *
  * Trees walk four at a time (the reference spreads them over rayon,
  * src/lib.rs:133-135): each of four lanes holds one tree's walk, and
  * [[margins]] decides all four lanes' next nodes in one pass over the
  * query. A single margin is one dependent chain of `dim` double adds
  * over a plane row far apart in a large array; four lanes run four
  * independent add chains and read four plane rows at once. Each lane
  * still sums its plane in index order, so every side decision, and so
  * every result, is bit-identical to walking the trees one by one. A
  * lane whose tree is done is refilled with the next tree. The exact
  * re-rank scores two candidate rows per pass the same way.
  *
  * Layout: tree t occupies nodes [roots(t), roots(t + 1)) in preorder,
  * left (below) subtree first; planes are numbered in the same order and
  * each leaf's rows are the next `leafLen` entries of `leafRows`; inner
  * nodes have leafOff = leafLen = 0. Built by [[CompactIndex.concat]]
  * over per-tree [[TreeBuffers]].
  *
  * Shared read-only by concurrent tasks (it is broadcast), so every
  * query allocates its own scratch. Every query entry point fails by
  * name on a null query or one whose length is not `dim`; an index with
  * no rows and dim 0 (fit on an empty frame) answers any query with
  * nothing.
  */
final class CompactIndex(
    val roots: Array[Int],
    val left: Array[Int], val right: Array[Int],     // -1 when leaf
    val planeIdx: Array[Int],                        // inner-node plane row
    val planeCoef: Array[Float],                     // nPlanes × dim
    val planeConst: Array[Float],
    val leafOff: Array[Int], val leafLen: Array[Int],
    val leafRows: Array[Int],
    val ids: Array[Long],
    val vecs: Array[Float],                          // nRows × dim
    val dim: Int) extends Serializable {
  import CompactIndex.Lanes

  private def checkQuery(entry: String, q: Array[Float]): Unit = {
    require(q != null, s"CompactIndex.$entry: query vector is null")
    require(q.length == dim || dim == 0 && ids.isEmpty,
      s"CompactIndex.$entry: query has ${q.length} dims, the index has $dim")
  }

  /** Margin n·q + c of the plane at each lane's inner node `node(l)`
    * into `out(l)`: four plane rows per pass over `q`, each summed in
    * index order in double, then + c — the one margin arithmetic of
    * every walk (margin ≥ 0 ⇒ above: ties go above). Lanes at −1 are
    * idle: they repeat a busy lane's plane and their margin is unused.
    * At least one lane must be busy. */
  private def margins(node: Array[Int], q: Array[Float], out: Array[Double]): Unit = {
    var busy = 0
    while (node(busy) < 0) busy += 1
    val p0 = planeIdx(if (node(0) >= 0) node(0) else node(busy))
    val p1 = planeIdx(if (node(1) >= 0) node(1) else node(busy))
    val p2 = planeIdx(if (node(2) >= 0) node(2) else node(busy))
    val p3 = planeIdx(if (node(3) >= 0) node(3) else node(busy))
    val coef = planeCoef
    val b0 = p0 * dim; val b1 = p1 * dim; val b2 = p2 * dim; val b3 = p3 * dim
    var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
    var i = 0
    while (i < dim) {
      val x = q(i).toDouble
      a0 += coef(b0 + i).toDouble * x
      a1 += coef(b1 + i).toDouble * x
      a2 += coef(b2 + i).toDouble * x
      a3 += coef(b3 + i).toDouble * x
      i += 1
    }
    out(0) = a0 + planeConst(p0)
    out(1) = a1 + planeConst(p1)
    out(2) = a2 + planeConst(p2)
    out(3) = a3 + planeConst(p3)
  }

  /** Squared euclidean distance of stored rows r0, r1 to `q` into
    * `out(0..1)`: two rows per pass over `q`, each summed in index order
    * in double. Two, not four: under C2 (JDK 17, x86-64) a four-row
    * pass measured about 2.5× slower per row than this two-row one, and
    * the one-row loop 1.5× slower. */
  private def distances(r0: Int, r1: Int, q: Array[Float], out: Array[Double]): Unit = {
    val v = vecs
    val b0 = r0 * dim; val b1 = r1 * dim
    var a0 = 0.0; var a1 = 0.0
    var i = 0
    while (i < dim) {
      val x = q(i).toDouble
      val d0 = v(b0 + i).toDouble - x
      val d1 = v(b1 + i).toDouble - x
      a0 += d0 * d0; a1 += d1 * d1
      i += 1
    }
    out(0) = a0; out(1) = a1
  }

  /** Exact re-rank of `rows(0 until n)`: the `topK` smallest by (dist,
    * id), ascending, NaN last; with `radius`, only rows with
    * dist ≤ `maxDist` count. Remaps to external ids. */
  private def rank(q: Array[Float], rows: Array[Int], n: Int, topK: Int,
      radius: Boolean, maxDist: Double): Array[(Long, Double)] = {
    val best = new TopK(math.max(0, math.min(topK, n)))
    if (best.cap > 0) {
      val d = new Array[Double](2)
      var j = 0
      while (j < n) {
        // an odd last row is scored twice
        distances(rows(j), rows(math.min(j + 1, n - 1)), q, d)
        if (!radius || d(0) <= maxDist) best.offer(d(0), ids(rows(j)))
        if (j + 1 < n && (!radius || d(1) <= maxDist)) best.offer(d(1), ids(rows(j + 1)))
        j += 2
      }
    }
    best.result
  }

  /** Top-k: union candidates over trees, exact squared-euclidean
    * re-rank ascending, id tiebreak, NaN last.
    *
    * Each tree is the reference's first-n walk with a budget of `topK`
    * rows: at a leaf take its first min(budget, leafLen) rows; at an
    * inner node visit the query's side first, then — while budget is
    * left — the other side (shortfall spill), as an explicit stack. */
  def search(query: Array[Float], topK: Int): Array[(Long, Double)] = {
    checkQuery("search", query)
    val cand = new RowSet(math.min(roots.length.toLong * math.max(topK, 0), ids.length.toLong).toInt)
    if (topK > 0) {
      val node = Array.fill(Lanes)(-1)  // inner node awaiting its side; -1 idle
      val rem = new Array[Int](Lanes)     // rows the lane's tree may still take
      val stack = Array.fill(Lanes)(new Array[Int](64)) // the other sides still to visit
      val sp = new Array[Int](Lanes)
      val m = new Array[Double](Lanes)
      var next = 0                        // next tree to hand to a lane
      var busy = Lanes
      while (busy > 0) {
        busy = 0
        var l = 0
        while (l < Lanes) {
          // take leaves and pop the stack until an inner node; a lane
          // whose tree is done (out of budget or nodes) starts the next
          var n = node(l)
          while (n >= 0 && left(n) < 0 || n < 0 && next < roots.length) {
            if (n >= 0) {
              val take = math.min(rem(l), leafLen(n))
              val off = leafOff(n)
              var i = 0
              while (i < take) { cand.add(leafRows(off + i)); i += 1 }
              rem(l) -= take
            }
            n =
              if (rem(l) > 0 && sp(l) > 0) { sp(l) -= 1; stack(l)(sp(l)) }
              else if (next < roots.length) { rem(l) = topK; sp(l) = 0; next += 1; roots(next - 1) }
              else -1
          }
          node(l) = n
          if (n >= 0) busy += 1
          l += 1
        }
        if (busy > 0) {
          margins(node, query, m)
          l = 0
          while (l < Lanes) {
            val n = node(l)
            if (n >= 0) {
              val above = m(l) >= 0.0
              if (sp(l) == stack(l).length) stack(l) = java.util.Arrays.copyOf(stack(l), 2 * sp(l))
              stack(l)(sp(l)) = if (above) left(n) else right(n)
              sp(l) += 1
              node(l) = if (above) right(n) else left(n)
            }
            l += 1
          }
        }
      }
    }
    rank(query, cand.rows, cand.size, topK, radius = false, 0.0)
  }

  /** EXACT top-k by brute scan over every stored row — the SQL face's
    * hash-matchable backend and the in-model recall oracle. Same
    * scoring arithmetic and (dist, id, NaN-last) total order as
    * [[search]], so ANN-vs-exact differences are traversal-only. */
  def searchExact(query: Array[Float], topK: Int): Array[(Long, Double)] = {
    checkQuery("searchExact", query)
    rank(query, Array.range(0, ids.length), ids.length, topK, radius = false, 0.0)
  }

  /** Single-path descent of every tree, four trees in lockstep: tree t's
    * leaf node for `q` into `leaf(t)` and its breadcrumb into `path(t)`
    * (a 1 sentinel, then one bit per level, 1 = above); either may be
    * null. */
  private def descend(q: Array[Float], leaf: Array[Int], path: Array[Long]): Unit = {
    val tree = new Array[Int](Lanes)
    val node = Array.fill(Lanes)(-1)  // inner node awaiting its side; -1 idle
    val bits = new Array[Long](Lanes)
    val m = new Array[Double](Lanes)
    var next = 0
    var busy = Lanes
    while (busy > 0) {
      busy = 0
      var l = 0
      while (l < Lanes) {
        // a lane at a leaf records it and starts the next tree
        var n = node(l)
        while (n >= 0 && left(n) < 0 || n < 0 && next < roots.length) {
          if (n >= 0) {
            if (leaf != null) leaf(tree(l)) = n
            if (path != null) path(tree(l)) = bits(l)
          }
          n =
            if (next < roots.length) { tree(l) = next; bits(l) = 1L; next += 1; roots(next - 1) }
            else -1
        }
        node(l) = n
        if (n >= 0) busy += 1
        l += 1
      }
      if (busy > 0) {
        margins(node, q, m)
        l = 0
        while (l < Lanes) {
          val n = node(l)
          if (n >= 0) {
            val above = m(l) >= 0.0
            node(l) = if (above) right(n) else left(n)
            bits(l) = 2 * bits(l) + (if (above) 1L else 0L)
          }
          l += 1
        }
      }
    }
  }

  /** All (id, dist ≤ maxDist) among the query's leaf candidates —
    * WHOLE leaves, no first-n truncation (the first-n take and
    * shortfall spill are artifacts of the reference's top-k traversal
    * budget; a radius query has no budget to spill against).
    * Approximate like every forest path: a row outside the query's
    * leaf in every tree is missed. Ascending (dist, id). */
  def searchRadius(query: Array[Float], maxDist: Double): Array[(Long, Double)] = {
    checkQuery("searchRadius", query)
    val leaf = new Array[Int](roots.length)
    descend(query, leaf, null)
    val cand = new RowSet(16 * roots.length)
    leaf.foreach { n =>
      var i = 0
      while (i < leafLen(n)) { cand.add(leafRows(leafOff(n) + i)); i += 1 }
    }
    rank(query, cand.rows, cand.size, cand.size, radius = true, maxDist)
  }

  /** (treeId, breadcrumb-path leaf id) per tree for one vector. */
  def leafPaths(q: Array[Float]): Array[(Int, Long)] = {
    checkQuery("leafPaths", q)
    val path = new Array[Long](roots.length)
    descend(q, null, path)
    Array.tabulate(roots.length)(t => (t, path(t)))
  }

  /** ‖n‖ per plane — lazily computed once per executor-side index,
    * normalizes [[margins]] into a true point-to-plane distance for the
    * spill criterion. */
  @transient private lazy val planeNorms: Array[Double] = {
    val n = planeConst.length
    val out = new Array[Double](n)
    var p = 0
    while (p < n) {
      var acc = 0.0
      val base = p * dim
      var i = 0
      while (i < dim) { acc += planeCoef(base + i).toDouble * planeCoef(base + i); i += 1 }
      out(p) = math.sqrt(acc)
      p += 1
    }
    out
  }

  /** Spill routing (multi-probe): like [[leafPaths]], but at any inner
    * node whose plane lies within `eps` (euclidean point-to-plane
    * distance) of the vector, BOTH children are explored — the true
    * nearest neighbors of a near-boundary query are equally likely on
    * either side, which is exactly the pair the single-path walk
    * loses. Main-side-first depth-first order with at most
    * `maxLeavesPerTree` leaves emitted per tree, so the first leaf is
    * always the [[leafPaths]] leaf and cost is bounded. eps = 0 ≡
    * [[leafPaths]].
    *
    * Guarantee scope: any eps > 0 probes a SUPERSET of the eps = 0
    * leaves (the main leaf is emitted first in every tree), so recall
    * vs the single-path walk never drops. Between two positive eps
    * values under a binding leaf cap the sets are NOT nested — a larger
    * eps admits deeper spills that can consume the budget ahead of a
    * smaller eps's leaves — so eps-vs-eps improvements are empirical,
    * not a theorem. */
  def leafPathsSpill(q: Array[Float], eps: Double, maxLeavesPerTree: Int): Array[(Int, Long)] = {
    require(maxLeavesPerTree >= 1, s"maxLeavesPerTree must be >= 1, got $maxLeavesPerTree")
    checkQuery("leafPathsSpill", q)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val lane = Array.fill(Lanes)(-1) // one busy lane: this walk decides one node at a time
    val m = new Array[Double](Lanes)
    var t = 0
    while (t < roots.length) {
      var leaves = 0
      var stack = List((roots(t), 1L))
      while (stack.nonEmpty && leaves < maxLeavesPerTree) {
        val (node, path) = stack.head
        stack = stack.tail
        if (left(node) < 0) {
          out += ((t, path))
          leaves += 1
        } else {
          lane(0) = node
          margins(lane, q, m)
          val acc = m(0)
          val above = acc >= 0.0
          val main = (if (above) right(node) else left(node),
            2 * path + (if (above) 1L else 0L))
          // push backup first so the main child pops (explores) first
          if (math.abs(acc) < eps * planeNorms(planeIdx(node)))
            stack = (if (above) left(node) else right(node),
              2 * path + (if (above) 0L else 1L)) :: stack
          stack = main :: stack
        }
      }
      t += 1
    }
    out.toArray
  }

  /** Structure-only copy (planes + topology; leaf contents AND store
    * stripped) for routing broadcasts — leafPaths walks inner nodes
    * only, so shipping leafRows (one int per corpus row per tree) would
    * bloat every routing broadcast for nothing. */
  def structureOnly: CompactIndex = new CompactIndex(
    roots, left, right, planeIdx, planeCoef, planeConst,
    Array.emptyIntArray, Array.emptyIntArray, Array.emptyIntArray,
    Array.emptyLongArray, Array.emptyFloatArray, dim)
}

/** A query's candidate rows: an open-addressing set of row positions
  * (slot value row + 1, 0 = empty) that also lists its members in
  * insertion order in `rows(0 until size)`. Grows as needed. */
private final class RowSet(expected: Int) {
  private var slots = new Array[Int](Integer.highestOneBit(math.max(8, expected) * 2 - 1) * 2)
  var rows = new Array[Int](math.max(8, expected))
  var size = 0

  def add(r: Int): Unit = {
    if (2 * (size + 1) > slots.length) grow()
    if (put(slots, r)) {
      if (size == rows.length) rows = java.util.Arrays.copyOf(rows, 2 * size)
      rows(size) = r
      size += 1
    }
  }

  // linear probing; false when `r` is already present
  private def put(table: Array[Int], r: Int): Boolean = {
    val mask = table.length - 1
    val h = r * 0x9E3779B9
    var s = (h ^ (h >>> 16)) & mask
    while (table(s) != 0 && table(s) != r + 1) s = (s + 1) & mask
    val fresh = table(s) == 0
    table(s) = r + 1
    fresh
  }

  private def grow(): Unit = {
    val bigger = new Array[Int](2 * slots.length)
    var i = 0
    while (i < size) { put(bigger, rows(i)); i += 1 }
    slots = bigger
  }
}

/** The `cap` smallest (dist, id) pairs offered, kept sorted ascending by
  * (java.lang.Double.compare on dist — so NaN last — then id) with one
  * insertion step per offer. */
private final class TopK(val cap: Int) {
  private val dist = new Array[Double](cap)
  private val id = new Array[Long](cap)
  private var size = 0

  private def before(d: Double, i: Long, j: Int): Boolean = {
    val c = java.lang.Double.compare(d, dist(j))
    c < 0 || c == 0 && i < id(j)
  }

  def offer(d: Double, i: Long): Unit =
    if (size < cap || before(d, i, cap - 1)) {
      var j = if (size < cap) { size += 1; size - 1 } else cap - 1
      while (j > 0 && before(d, i, j - 1)) {
        dist(j) = dist(j - 1); id(j) = id(j - 1)
        j -= 1
      }
      dist(j) = d; id(j) = i
    }

  def result: Array[(Long, Double)] = Array.tabulate(size)(j => (id(j), dist(j)))
}

object CompactIndex {
  /** Trees walked at once by the query walks (8 measured slower than 4). */
  private final val Lanes = 4

  /** Joins per-tree buffers, in tree order, into one index over the
    * store (`ids`, row-major `vecs` of nRows × dim), shifting each
    * tree's node, plane and leaf-row offsets past the trees before it. */
  def concat(trees: Seq[TreeBuffers], ids: Array[Long], vecs: Array[Float], dim: Int): CompactIndex = {
    val nNodes = trees.map(_.nodeCount).sum
    val nPlanes = trees.map(_.planeCount).sum
    val roots = new Array[Int](trees.length)
    val left = new Array[Int](nNodes)
    val right = new Array[Int](nNodes)
    val planeIdx = new Array[Int](nNodes)
    val leafOff = new Array[Int](nNodes)
    val leafLen = new Array[Int](nNodes)
    val planeCoef = new Array[Float](nPlanes * dim)
    val planeConst = new Array[Float](nPlanes)
    val leafRows = new Array[Int](trees.map(_.rows.length).sum)
    var nodeBase = 0
    var planeBase = 0
    var rowBase = 0
    trees.iterator.zipWithIndex.foreach { case (t, ti) =>
      roots(ti) = nodeBase
      var i = 0
      while (i < t.nodeCount) {
        val g = nodeBase + i
        if (t.left(i) < 0) {
          left(g) = -1; right(g) = -1; planeIdx(g) = -1
          leafOff(g) = rowBase + t.leafOff(i)
          leafLen(g) = t.leafLen(i)
        } else {
          // a child is never its tree's root: 0 means never linked
          require(t.left(i) > 0 && t.right(i) > 0, s"tree $ti: inner node $i has no children")
          left(g) = nodeBase + t.left(i)
          right(g) = nodeBase + t.right(i)
          planeIdx(g) = planeBase + t.planeIdx(i)
        }
        i += 1
      }
      System.arraycopy(t.coef, 0, planeCoef, planeBase * dim, t.planeCount * dim)
      System.arraycopy(t.const, 0, planeConst, planeBase, t.planeCount)
      System.arraycopy(t.rows, 0, leafRows, rowBase, t.rows.length)
      nodeBase += t.nodeCount
      planeBase += t.planeCount
      rowBase += t.rows.length
    }
    new CompactIndex(roots, left, right, planeIdx, planeCoef, planeConst,
      leafOff, leafLen, leafRows, ids, vecs, dim)
  }
}

/** One tree of a [[CompactIndex]] under construction: growable primitive
  * node and plane buffers with tree-local ids, plus `rows`, the tree's
  * leaf-row order — leaf nodes are ranges of it. Append nodes in
  * preorder (an inner node, then its left subtree, then its right) and
  * planes in the order of their inner nodes; [[CompactIndex.concat]]
  * then joins the trees. */
final class TreeBuffers(dim: Int, val rows: Array[Int]) {
  private[ann] var left = new Array[Int](16)
  private[ann] var right = new Array[Int](16)
  private[ann] var planeIdx = new Array[Int](16)
  private[ann] var leafOff = new Array[Int](16)
  private[ann] var leafLen = new Array[Int](16)
  private[ann] var coef = new Array[Float](16 * dim)
  private[ann] var const = new Array[Float](16)
  private var nodes = 0
  private var planes = 0

  def nodeCount: Int = nodes
  def planeCount: Int = planes

  private def addNode(l: Int, r: Int, plane: Int, off: Int, len: Int): Int = {
    if (nodes == left.length) {
      val cap = 2 * nodes
      left = java.util.Arrays.copyOf(left, cap)
      right = java.util.Arrays.copyOf(right, cap)
      planeIdx = java.util.Arrays.copyOf(planeIdx, cap)
      leafOff = java.util.Arrays.copyOf(leafOff, cap)
      leafLen = java.util.Arrays.copyOf(leafLen, cap)
    }
    left(nodes) = l; right(nodes) = r; planeIdx(nodes) = plane
    leafOff(nodes) = off; leafLen(nodes) = len
    nodes += 1
    nodes - 1
  }

  /** Appends plane n·x + c = 0, copying n from `coefs(0 until dim)`;
    * returns its tree-local index. */
  def addPlane(coefs: Array[Float], c: Float): Int = {
    if (planes == const.length) {
      coef = java.util.Arrays.copyOf(coef, 2 * planes * dim)
      const = java.util.Arrays.copyOf(const, 2 * planes)
    }
    System.arraycopy(coefs, 0, coef, planes * dim, dim)
    const(planes) = c
    planes += 1
    planes - 1
  }

  /** Appends a leaf over `rows(off until off + len)`; returns its id. */
  def leaf(off: Int, len: Int): Int = addNode(-1, -1, -1, off, len)

  /** Appends an inner node splitting on `plane`; [[link]] sets its
    * children once they are appended. Returns its id. */
  def inner(plane: Int): Int = addNode(0, 0, plane, 0, 0)

  def link(node: Int, below: Int, above: Int): Unit = {
    left(node) = below
    right(node) = above
  }
}

/** Parquet-serializable node row (see [[AnnForestModel.save]]). */
case class FlatNode(
    treeId: Int, nodeId: Int, isLeaf: Boolean,
    coeffs: Option[Array[Float]], constant: Option[Float],
    leftId: Int, rightId: Int, leafRows: Array[Int])

object AnnForestModel {
  /** A vector column value as the index reads it: null stays null (the
    * index rejects it by name), and cosine models normalize. */
  private def queryVector(v: Seq[Float], cosine: Boolean): Array[Float] =
    if (v == null) null else if (cosine) l2NormalizeJvm(v.toArray) else v.toArray

  /** JVM-side one-pass L2 normalization (zero vectors pass through). */
  private[ann] def l2NormalizeJvm(q: Array[Float]): Array[Float] = {
    var n = 0.0
    var i = 0
    while (i < q.length) { n += q(i).toDouble * q(i); i += 1 }
    val norm = math.sqrt(n)
    if (norm == 0.0) q
    else {
      val out = new Array[Float](q.length)
      i = 0
      while (i < q.length) { out(i) = (q(i) / norm).toFloat; i += 1 }
      out
    }
  }

  /** Load a model persisted by [[AnnForestModel.save]]: node rows in
    * `nodeId` order refill the same per-tree buffers [[AnnForest.fit]]
    * writes, so a loaded model's arrays equal the saved one's. */
  def load(path: String, spark: SparkSession): AnnForestModel = {
    import spark.implicits._
    val store = spark.read.parquet(s"$path/store")
      .select(col("pos"), col("id").cast("long"), col("vec"))
      .as[(Int, Long, Array[Float])]
      .collect()
      .sortBy(_._1)
    val dim = if (store.nonEmpty) store(0)._3.length else 0
    val vecs = new Array[Float](store.length * dim)
    store.iterator.zipWithIndex.foreach { case ((_, _, v), r) =>
      System.arraycopy(v, 0, vecs, r * dim, dim)
    }
    val byTree = spark.read.parquet(s"$path/nodes").as[FlatNode]
      .collect().sortBy(_.nodeId).groupBy(_.treeId)
    val trees = byTree.keys.toSeq.sorted.map { ti =>
      val ns = byTree(ti) // nodeId order = preorder
      val local = ns.iterator.map(_.nodeId).zipWithIndex.toMap
      val tree = new TreeBuffers(dim, ns.filter(_.isLeaf).flatMap(_.leafRows))
      var off = 0
      ns.foreach { n =>
        if (n.isLeaf) { tree.leaf(off, n.leafRows.length); off += n.leafRows.length }
        else tree.inner(tree.addPlane(n.coeffs.get, n.constant.get))
      }
      ns.foreach { n => if (!n.isLeaf) tree.link(local(n.nodeId), local(n.leftId), local(n.rightId)) }
      tree
    }
    // only ABSENCE of meta falls back (pre-metric saves); asked of the
    // path's own FileSystem, so any Hadoop URI (file:/x, hdfs://…) works
    val meta = new org.apache.hadoop.fs.Path(s"$path/meta")
    val metric =
      if (meta.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(meta))
        spark.read.parquet(s"$path/meta").head().getString(0)
      else "euclidean"
    new AnnForestModel(CompactIndex.concat(trees, store.map(_._2), vecs, dim), metric)
  }
}

/** Estimator: builds the forest (reference build_index, src/lib.rs:81-103).
  *
  * MLlib-`Estimator`-shaped: `AnnForest(numTrees, maxLeafSize, seed)
  * .fit(df)`. The build collects the (dedup'd) store to the driver — the
  * reference's own memory model (its entire index is process RAM,
  * src/lib.rs:15-19) — and parallelizes across trees. Each tree gets an
  * independent seeded RNG so results are identical regardless of thread
  * scheduling (the reference uses thread_rng and is nondeterministic,
  * src/lib.rs:27 — we diverge deliberately for testability, SURVEY §2.3.6).
  * Beyond driver memory (~10⁸ rows), the documented fallback is
  * level-by-level DataFrame partitioning (SURVEY §2.1 B2); fixtures and
  * the reference's own 1M-row corpus are far below that.
  */
case class AnnForest(
    numTrees: Int = 50, maxLeafSize: Int = 5, seed: Long = 42L,
    metric: String = "euclidean") {
  require(metric == "euclidean" || metric == "cosine",
    s"metric must be euclidean|cosine, got $metric")

  /** Builds tree `t` over the `n` rows of the flat store `vecs`
    * (reference build_a_tree, src/lib.rs:50-62) straight into a
    * [[TreeBuffers]]: leaf at ≤ maxLeafSize rows; left = below,
    * right = above. Each split stably partitions a range of the tree's
    * row order in place — below first, in order — so every subtree, and
    * so every leaf, is a contiguous range of it, in preorder. Guards the
    * reference's infinite-recursion hazard (identical/degenerate splits)
    * with a forced leaf — the reference relies on dedup alone (SURVEY §7
    * M3). */
  private def buildTree(t: Int, vecs: Array[Float], dim: Int, n: Int): TreeBuffers = {
    val tree = new TreeBuffers(dim, Array.range(0, n))
    val rows = tree.rows
    val rng = new Random(seed * 1000003L + t)
    val plane = new Array[Float](dim) // the split being tried
    val aboveRows = new Array[Int](n) // partition spill

    // Bisector plane of two sampled rows a, b of rows[lo, lo + len)
    // into `plane`: n = b − a, through the midpoint, c = −n·mid
    // (reference build_hyperplane, src/lib.rs:22-48; kernel arg-order
    // quirk a.subtract_from(b) = b − a, src/vector.rs:8-12). Returns c.
    def bisect(lo: Int, len: Int): Float = {
      // sample two distinct positions (reference choose_multiple(2), src/lib.rs:26-28)
      val ai = rng.nextInt(len)
      var bi = rng.nextInt(len)
      var tries = 0
      while (bi == ai && tries < 8) { bi = rng.nextInt(len); tries += 1 }
      val a = rows(lo + ai) * dim
      val b = rows(lo + math.max(0, if (bi == ai) (ai + 1) % len else bi)) * dim
      var c = 0.0
      var i = 0
      while (i < dim) {
        plane(i) = vecs(b + i) - vecs(a + i)
        c += plane(i).toDouble * ((vecs(a + i).toDouble + vecs(b + i).toDouble) / 2.0)
        i += 1
      }
      (-c).toFloat
    }

    // Stable partition of rows[lo, hi) by `plane`: below first, ties
    // above (HyperPlane.isAbove's arithmetic). Returns the first above index.
    def partition(lo: Int, hi: Int, c: Float): Int = {
      var below = lo
      var nAbove = 0
      var k = lo
      while (k < hi) {
        val r = rows(k)
        val base = r * dim
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += plane(i).toDouble * vecs(base + i); i += 1 }
        if (acc + c >= 0.0) { aboveRows(nAbove) = r; nAbove += 1 }
        else { rows(below) = r; below += 1 }
        k += 1
      }
      System.arraycopy(aboveRows, 0, rows, below, nAbove)
      below
    }

    def grow(lo: Int, hi: Int, depth: Int): Int = {
      val len = hi - lo
      // depth cap 62: assignLeaves encodes the root-to-leaf path as a
      // 1-sentinel + one bit per level breadcrumb in a LONG — 62 levels
      // keeps it within 63 bits (overflow would silently merge buckets)
      if (len <= maxLeafSize || depth >= 62) tree.leaf(lo, len)
      else {
        val c = bisect(lo, len)
        val mid = partition(lo, hi, c)
        if (mid == lo || mid == hi) tree.leaf(lo, len) // degenerate split guard
        else {
          val node = tree.inner(tree.addPlane(plane, c))
          tree.link(node, grow(lo, mid, depth + 1), grow(mid, hi, depth + 1))
          node
        }
      }
    }

    grow(0, n, 0)
    tree
  }

  /** Fit on (idCol LONG, vecCol ARRAY<FLOAT>). Bit-exact dedup first
    * (reference src/lib.rs:87-88, minus its drop-row-0 bug), then
    * numTrees independent trees in parallel, each written straight into
    * primitive buffers and joined into the model's [[CompactIndex]] —
    * the store is held once, in its flat array. With metric="cosine"
    * the store is L2-normalized at ingest — searches then rank by cosine
    * (returned dist = 2·(1−cos); models normalize queries themselves).
    *
    * Driver memory is bounded by the RAW row count, duplicates
    * included: the collect happens before the dedup (one job per fit
    * instead of four). On a duplicate-heavy corpus whose deduped size
    * fits the driver but raw size doesn't, run [[Dedup.exactVectors]]
    * first — or use [[DistributedAnnForest]], the scale path. */
  def fit(df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding"): AnnForestModel = {
    import df.sparkSession.implicits._
    // This path collects the store to the driver by design (reference
    // memory model) — so dedup AFTER the collect, on the driver: same
    // first-seen-wins bit-exact semantics as Dedup.exactVectors (min id
    // per raw-bits key; dedup on RAW vectors — normalizing first would
    // collapse distinct colinear vectors), without paying the groupBy +
    // semi-join + sort shuffles per fit. Beyond driver memory the
    // distributed dedup + build is DistributedAnnForest.
    val collected = df
      .select(col(idCol).cast(LongType), col(vecCol).cast(ArrayType(FloatType)))
      .as[(Long, Array[Float])]
      .collect()
    val minId = new java.util.HashMap[RawBits, java.lang.Long]()
    collected.foreach { case (id, vec) =>
      val key = new RawBits(vec)
      val prev = minId.get(key)
      if (prev == null || id < prev) minId.put(key, id)
    }
    import scala.jdk.CollectionConverters._
    val deduped = minId.entrySet().asScala.toArray
      .sortBy(_.getValue.longValue) // deterministic store order = deterministic leaves
    val ids = deduped.map(_.getValue.longValue)
    val dim = if (deduped.nonEmpty) deduped(0).getKey.vec.length else 0
    val vecs = new Array[Float](ids.length * dim)
    deduped.iterator.zipWithIndex.foreach { case (e, r) =>
      val raw = e.getKey.vec
      require(raw.length == dim, s"$vecCol: row ${ids(r)} has ${raw.length} dims, expected $dim")
      val v = if (metric == "cosine") AnnForestModel.l2NormalizeJvm(raw) else raw
      System.arraycopy(v, 0, vecs, r * dim, dim)
    }
    import scala.collection.parallel.CollectionConverters._
    val trees = (0 until numTrees).par.map(t => buildTree(t, vecs, dim, ids.length)).seq
    new AnnForestModel(CompactIndex.concat(trees, ids, vecs, dim), metric)
  }
}

/** Dedup key over a vector's raw float bits: two keys are equal iff every
  * `floatToRawIntBits` matches, so -0.0 ≠ 0.0 and distinct NaN payloads
  * stay distinct (not `Arrays.equals`, which merges NaNs). */
private final class RawBits(val vec: Array[Float]) {
  override val hashCode: Int = {
    var h = 1
    var i = 0
    while (i < vec.length) { h = 31 * h + java.lang.Float.floatToRawIntBits(vec(i)); i += 1 }
    h
  }

  override def equals(o: Any): Boolean = o match {
    case k: RawBits =>
      k.vec.length == vec.length && {
        var i = 0
        while (i < vec.length &&
            java.lang.Float.floatToRawIntBits(vec(i)) == java.lang.Float.floatToRawIntBits(k.vec(i)))
          i += 1
        i == vec.length
      }
    case _ => false
  }
}
