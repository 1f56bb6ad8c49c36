package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Navigable-small-world (NSW) graph ANN — the graph-family backend
  * next to the hyperplane forest ([[AnnForest]]/[[DistributedAnnForest]]),
  * the coarse quantizer ([[IvfIndex]]) and the compressed forms
  * ([[PqIndex]], SQ8, binary sign codes). Covers the same query surface
  * as the reference's `search_approximate` (`lib.rs:130-149`) with a
  * third routing geometry: greedy best-first walks over a proximity
  * graph (Malkov et al., "Approximate nearest neighbor algorithm based
  * on navigable small world graphs", Inf. Systems 2014).
  *
  * Scale shape: the corpus is hash-sharded (`pmod(xxhash64(seed,id),S)`)
  * and each shard builds an INDEPENDENT in-memory graph inside one
  * `mapPartitions` pass — the standard sharded-vector-store layout: no
  * cross-shard edges, so build is embarrassingly parallel and a shard
  * is the unit of executor memory (size S so n/S nodes × (dim·4 +
  * m·8) bytes fit an executor). A query batch broadcasts to every
  * shard (each must be searched — same contract as every sharded ANN
  * serving system), each shard returns its local top-k from a beam
  * search, and a global [[graft.plans.TopKPerKey]] merge keeps the true
  * top-k of the union. Deltas are taken at SHARD granularity
  * ([[NswModel.append]]/[[NswModel.remove]]/[[NswModel.compact]]): a
  * frozen shard graph can't absorb single inserts in parallel, but a
  * shard rebuild is a pure id-ordered function of its live rows, so
  * touched shards rebuild bit-identically to a fresh fit and the rest
  * pass through untouched.
  *
  * Determinism: insertion order is node-id ascending per shard, every
  * heap comparison tie-breaks (distance, id), so two fits with one seed
  * produce identical adjacency — same policy as the seeded forest.
  *
  * `hierarchy = true` builds the HNSW layer stack on top (Malkov &
  * Yashunin, "Efficient and robust approximate nearest neighbor search
  * using Hierarchical Navigable Small World graphs", TPAMI 2018):
  * each node draws a deterministic exponential level from its id
  * ([[NswGraph.levelOf]] — a pure function, so every rebuild
  * reproduces it and the bit-identical lifecycle invariants survive),
  * upper levels hold sparse long-range routing graphs, and both
  * INSERTION and SEARCH first greedy-descend the stack to a
  * near-target entry before running the level-0 beam. This is what
  * makes 10⁵⁺-node shards of CLUSTERED data navigable: ProbeNswBig
  * measured flat NSW at recall 0.015 on a 50k-node clustered shard
  * (the walk from one fixed entry strands in the wrong cluster, and
  * the id-ordered build suffers the same failure while wiring the
  * graph) where the hierarchy restores it. Flat mode is the default
  * and byte-identical to the pre-hierarchy build.
  */
case class NswGraph(m: Int = 12, efConstruction: Int = 64,
    numShards: Int = 8, metric: String = "euclidean", seed: Long = 42L,
    hierarchy: Boolean = false) {
  require(metric == "euclidean" || metric == "cosine",
    s"metric must be euclidean|cosine, got $metric")
  require(m >= 2, s"graph degree m must be >= 2, got $m")
  require(efConstruction >= m, s"efConstruction must be >= m=$m")
  require(numShards >= 1, s"numShards must be >= 1")

  /** Shared ingest routing — bit-exact dedup first (raw vectors: the
    * forest-fit order; normalizing first would collapse distinct
    * colinear vectors), metric transform, hash-shard assignment. The
    * SINGLE preprocessing [[fit]], [[NswModel.append]] and
    * [[NswStore.upsertStore]] all run, so every ingest path routes a
    * row identically. Output: (shard, node_id, vec). */
  private[ann] def routeRows(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.l2Normalize
    val vecExpr =
      if (metric == "cosine") l2Normalize(col(vecCol).cast("array<float>"))
      else col(vecCol).cast("array<float>")
    Dedup.exactVectors(df, vecCol, idCol)
      .select(
        pmod(xxhash64(lit(seed), col(idCol).cast("long")), lit(numShards))
          .cast("int").as("shard"),
        col(idCol).cast("long").as("node_id"), vecExpr.as("vec"))
  }

  def fit(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): NswModel = {
    val spark = df.sparkSession
    import spark.implicits._
    // serializable copies (no `this` capture)
    val mm = m; val efc = efConstruction; val sd = seed; val hier = hierarchy
    val graph = routeRows(df, idCol, vecCol)
      .as[(Int, Long, Seq[Float])]
      .repartition(numShards, col("shard"))
      .mapPartitions(it => NswGraph.buildShards(it, mm, efc, sd, hier))
      .toDF("shard", "node_id", "vec", "nbrs", "hnbrs")
      .withColumn("del", lit(false))
      // eager materialization: the build is the expensive pass; every
      // query batch against the model must reuse it, never re-run it
      .localCheckpoint()
    new NswModel(m, efConstruction, numShards, metric, seed, graph, hierarchy)
  }
}

object NswGraph {

  private[ann] def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Greedy best-first beam search over one shard graph, classic NSW:
    * a min-heap frontier expands the closest unexpanded node, a bounded
    * max-heap keeps the best `ef` ADMISSIBLE nodes seen; stop when the
    * frontier's best is worse than the result heap's worst. Only
    * indices `< bound` exist (during build, bound = #inserted so far).
    * `admit` gates RESULT membership only — inadmissible nodes still
    * route (the standard filtered-graph-ANN traversal: filtering edges
    * instead would disconnect the graph), so a very selective filter
    * degrades toward a shard scan rather than losing recall. All
    * comparisons are (dist, idx) tuples so ties resolve by insertion
    * order.
    *
    * `entries` seeds the frontier with MULTIPLE starting nodes
    * (round-10 verdict #4): a flat NSW walking from one fixed entry
    * pays long greedy descents once shards reach 10⁵–10⁶ nodes —
    * seeding E spread entries starts the search near E graph regions
    * at the cost of E extra distance evaluations, the cheap half of
    * the HNSW fix (the layer hierarchy's job is exactly to place the
    * walk near the target before the flat search). Search-time only:
    * the BUILD still inserts from entry 0, so adjacency — and every
    * bit-identical lifecycle invariant — is unchanged. */
  private def beam(qv: Array[Float], entries: Seq[Int], ef: Int, bound: Int,
      vecs: Array[Array[Float]], adj: Array[scala.collection.mutable.ArrayBuffer[Int]],
      visited: Array[Boolean], touched: scala.collection.mutable.ArrayBuffer[Int],
      admit: Int => Boolean = _ => true, scanFallback: Boolean = true)
      : scala.collection.mutable.PriorityQueue[(Double, Int)] = {
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    val frontier = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord.reverse)
    val res = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord)
    entries.foreach { entry =>
      if (!visited(entry)) {
        val e = (sqDist(qv, vecs(entry)), entry)
        visited(entry) = true; touched += entry
        frontier += e
        if (admit(entry)) {
          res += e
          if (res.size > ef) res.dequeue()
        }
      }
    }
    var done = false
    while (!done && frontier.nonEmpty) {
      val c = frontier.dequeue()
      if (res.size >= ef && ord.gt(c, res.head)) done = true
      else {
        val ns = adj(c._2); var i = 0
        while (i < ns.length) {
          val nb = ns(i)
          if (nb < bound && !visited(nb)) {
            visited(nb) = true; touched += nb
            val cand = (sqDist(qv, vecs(nb)), nb)
            if (res.size < ef || ord.lt(cand, res.head)) {
              frontier += cand
              if (admit(nb)) {
                res += cand
                if (res.size > ef) res.dequeue()
              }
            }
          }
          i += 1
        }
      }
    }
    // Exhaustive FALLBACK (round 10): plain nearest-neighbor pruning
    // can orphan a node from the entry's component — an outlier is
    // everyone's worst neighbor, so over-degree prunes strip every
    // reverse edge to it and no walk from the entry can reach it (the
    // flat-NSW artifact the HNSW diversity heuristic exists to
    // soften). When the frontier drains with result capacity left,
    // the remaining unvisited nodes are scanned directly, so
    //   - ef ≥ shard size is EXACT by construction (the q206/q209
    //     equality gates' stated semantics, now actually guaranteed —
    //     before this, "exhaustive" meant the reachable component);
    //   - orphans and very selective admission filters degrade toward
    //     a shard scan, never toward silent recall loss (the cost is
    //     paid exactly when the beam found fewer than ef admissible
    //     nodes — i.e. when the scan is the truth's price).
    // (upper-level HNSW build beams disable the scan — it would admit
    // nodes that are not members of the level being built)
    if (scanFallback && res.size < ef) {
      var u = 0
      while (u < bound) {
        if (!visited(u)) {
          visited(u) = true; touched += u
          val cand = (sqDist(qv, vecs(u)), u)
          if (admit(u) && (res.size < ef || ord.lt(cand, res.head))) {
            res += cand
            if (res.size > ef) res.dequeue()
          }
        }
        u += 1
      }
    }
    // reset the scratch bitmap for the next query (O(|touched|), not O(n))
    var i = 0
    while (i < touched.length) { visited(touched(i)) = false; i += 1 }
    touched.clear()
    res
  }

  /** Deterministic spread of `e` search entries over a shard of `n`
    * id-ordered nodes: node 0 (the build's insertion root, always the
    * best-connected) plus evenly spaced insertion ranks. A pure
    * function of (n, e) — stable across rebuilds of the same live
    * set, so multi-entry serving preserves the lifecycle equalities. */
  private[graft] def spreadEntries(n: Int, e: Int): Seq[Int] =
    (0 until math.max(1, e)).map(j => (j.toLong * n / math.max(1, e)).toInt)
      .distinct.filter(_ < n)

  /** Deterministic HNSW level draw for a node: an exponential
    * distribution with base m (P(level ≥ l) = m^-l — the standard
    * mL = 1/ln(m) parameterization) sampled from a splitmix-style
    * integer mix of (seed, id). A PURE function of (id, seed, m), so
    * every shard rebuild reproduces the levels and the bit-identical
    * lifecycle invariants carry over to hierarchical graphs. */
  private[graft] def levelOf(id: Long, seed: Long, m: Int): Int = {
    var h = id * 0x9E3779B97F4A7C15L + seed * 0xC2B2AE3D27D4EB4FL
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^= (h >>> 31)
    val u = ((h >>> 11).toDouble + 1.0) / 9007199254740993.0 // (0, 1]
    math.min((-math.log(u) / math.log(m.toDouble)).toInt, 24)
  }

  /** Greedy descent at one level: hop to the strictly closer neighbor
    * ((dist, idx) total order) until a local minimum — the HNSW
    * upper-layer routing step. `adjAt(x)` may be null for nodes not
    * participating at this level; edges only reference members, so a
    * member entry never dereferences a null. */
  private def greedyStep(qv: Array[Float], start: Int,
      adjAt: Int => scala.collection.mutable.ArrayBuffer[Int],
      vecs: Array[Array[Float]]): Int = {
    var best = start
    var bestD = sqDist(qv, vecs(best))
    var improved = true
    while (improved) {
      improved = false
      val ns = adjAt(best)
      if (ns != null) {
        var i = 0
        while (i < ns.length) {
          val nb = ns(i)
          val d = sqDist(qv, vecs(nb))
          if (d < bestD || (d == bestD && nb < best)) {
            bestD = d; best = nb; improved = true
          }
          i += 1
        }
      }
    }
    best
  }

  /** One shard's graph build: nodes insert in id order; each new node
    * beam-searches the graph-so-far (ef = efConstruction), links
    * bidirectionally to its m nearest, and any over-degree neighbor
    * prunes back to its m nearest — plain nearest-neighbor selection
    * (the original NSW rule). Cost O(n · ef · m · dim) per shard,
    * independent across shards.
    *
    * FLAT mode (hier = false): every insertion beams from node 0;
    * `hnbrs` is empty — byte-identical to the pre-hierarchy build.
    * HIERARCHICAL mode: each node draws its [[levelOf]] level; an
    * insertion first greedy-descends the layer stack from the current
    * top entry to a near-target node, then beams and links at every
    * level it participates in (upper levels hold the sparse long-range
    * graphs; level 0 is the full graph, built with the SAME selection
    * and prune rule as flat mode — only the beam's entry differs).
    * `hnbrs` holds the per-level neighbor lists for levels ≥ 1. */
  private[ann] def buildShards(it: Iterator[(Int, Long, Seq[Float])],
      m: Int, efC: Int, seed: Long, hier: Boolean)
      : Iterator[(Int, Long, Seq[Float], Seq[Long], Seq[Seq[Long]])] = {
    // a physical partition may hold several hash-colliding shards;
    // each still builds its own independent graph
    it.toArray.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
      val sorted = rows.sortBy(_._2)
      val n = sorted.length
      val ids = sorted.map(_._2)
      val vecs = sorted.map(_._3.toArray)
      val levels =
        if (hier) Array.tabulate(n)(k => levelOf(ids(k), seed, m))
        else Array.fill(n)(0)
      val topCap = if (n == 0) 0 else levels.max
      // adjacency per level: level 0 always dense; upper levels sparse
      // (only member nodes get a buffer)
      val adjL = Array.tabulate(topCap + 1, n) { (l, k) =>
        if (l <= levels(k)) scala.collection.mutable.ArrayBuffer.empty[Int]
        else null
      }
      val adj0 = adjL(0)
      val visited = new Array[Boolean](n)
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      var entry = 0
      var topL = if (n == 0) 0 else levels(0)
      // HNSW diversity heuristic (Malkov & Yashunin Alg. 4, with the
      // keep-pruned fill): take a candidate only when it is closer to
      // the target than to every already-kept neighbor, then fill any
      // remaining degree from the discarded nearest. Hierarchy mode
      // only — it is what keeps intra- AND inter-cluster edges alive
      // (plain nearest-m links only within the local blob: ProbeNswBig
      // measured the plateau it causes at recall 0.70 on the 50k
      // clustered shard). Deterministic: candidates arrive
      // (dist, idx)-sorted and the test is exact arithmetic.
      def selectDiverse(qv: Array[Float],
          cands: Array[(Double, Int)]): Array[(Double, Int)] = {
        val kept = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
        val dropped = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
        var i = 0
        while (i < cands.length && kept.length < m) {
          val (d, e) = cands(i)
          var diverse = true
          var j = 0
          while (diverse && j < kept.length) {
            if (sqDist(vecs(e), vecs(kept(j)._2)) < d) diverse = false
            j += 1
          }
          if (diverse) kept += cands(i) else dropped += cands(i)
          i += 1
        }
        var j = 0
        while (kept.length < m && j < dropped.length) {
          kept += dropped(j); j += 1
        }
        kept.toArray
      }
      def linkAt(l: Int, i: Int,
          sel: Array[(Double, Int)]): Unit = {
        val a = adjL(l)
        var j = 0
        while (j < sel.length) {
          val s = sel(j)._2
          a(i) += s
          a(s) += i
          if (a(s).length > m) {
            val cands = a(s).toArray
              .map(x => (sqDist(vecs(s), vecs(x)), x)).sorted(ord)
            val pruned =
              if (hier) selectDiverse(vecs(s), cands).map(_._2)
              else cands.take(m).map(_._2)
            a(s).clear(); a(s) ++= pruned
          }
          j += 1
        }
      }
      var i = 1
      while (i < n) {
        if (!hier) {
          val res = beam(vecs(i), Seq(0), ef = efC, bound = i, vecs, adj0,
            visited, touched)
          linkAt(0, i, res.toArray.sorted(ord).take(m))
        } else {
          val li = levels(i)
          var cur = entry
          var l = topL
          while (l > li) {
            cur = greedyStep(vecs(i), cur, adjL(l)(_), vecs)
            l -= 1
          }
          var lvl = math.min(li, topL)
          while (lvl >= 0) {
            // upper-level beams disable the drain-fallback: the scan
            // would admit nodes that are not members of this level
            val res = beam(vecs(i), Seq(cur), ef = efC, bound = i, vecs,
              adjL(lvl), visited, touched, scanFallback = lvl == 0)
            val selAll = res.toArray.sorted(ord)
            if (selAll.nonEmpty) cur = selAll.head._2
            linkAt(lvl, i, selectDiverse(vecs(i), selAll))
            lvl -= 1
          }
          if (li > topL) { topL = li; entry = i }
        }
        i += 1
      }
      Iterator.tabulate(n) { k =>
        (shard, ids(k), sorted(k)._3, adj0(k).map(ids(_)).sorted.toSeq,
          (1 to levels(k)).map(l => adjL(l)(k).map(ids(_)).sorted.toSeq))
      }
    }
  }

  /** Per-shard serve: broadcast query batch against one shard's graph,
    * emitting each query's local top-k among flagged (admissible)
    * nodes within `maxDist`. Shared by [[NswModel.knnJoin]],
    * [[NswModel.knnJoinFiltered]] and [[NswModel.radiusJoin]] (and
    * exposed for tests). */
  private[ann] def searchShards(
      it: Iterator[(Int, Long, Seq[Float], Seq[Long], Seq[Seq[Long]], Boolean)],
      qs: Array[(Long, Array[Float])], topK: Int, ef: Int,
      maxDist: Double = Double.PositiveInfinity, numEntries: Int = 1)
      : Iterator[(Long, Long, Double)] = {
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    it.toArray.groupBy(_._1).iterator.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      val n = sorted.length
      val ids = sorted.map(_._2)
      val idToIdx = ids.zipWithIndex.toMap
      val vecs = sorted.map(_._3.toArray)
      val adj = sorted.map(r => scala.collection.mutable.ArrayBuffer(
        r._4.map(idToIdx): _*))
      val flags = sorted.map(_._6)
      // HNSW upper layers (empty for flat shards): hnbrs(l-1) is the
      // node's level-l neighbor list; a node's level = hnbrs length
      val topL = if (n == 0) 0 else sorted.iterator.map(_._5.length).max
      val upAdj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]] =
        Array.tabulate(topL + 1) { l =>
          if (l == 0) null
          else sorted.map(r =>
            if (r._5.length >= l)
              scala.collection.mutable.ArrayBuffer(r._5(l - 1).map(idToIdx): _*)
            else null)
        }
      val hierEntry: Int =
        if (topL == 0) 0
        else sorted.indexWhere(_._5.length == topL)
      val visited = new Array[Boolean](n)
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      val spread = spreadEntries(n, numEntries)
      qs.iterator.flatMap { case (qid, qv) =>
        // per-query layer descent to a near-target entry (topL·m
        // distance evaluations — the HNSW routing step); flat shards
        // fall back to the spread entries
        val entries =
          if (topL == 0) spread
          else {
            var cur = hierEntry
            var l = topL
            while (l >= 1) {
              cur = greedyStep(qv, cur, upAdj(l)(_), vecs)
              l -= 1
            }
            (cur +: spread.take(numEntries - 1)).distinct
          }
        val res = beam(qv, entries, ef = math.max(ef, topK), bound = n,
          vecs, adj, visited, touched, admit = flags(_))
        res.toArray.sorted(ord).iterator
          .filter(_._1 <= maxDist).take(topK)
          .map { case (d, idx) => (qid, ids(idx), d) }
      }
    }
  }

  def load(path: String, spark: SparkSession): NswModel = {
    val p = spark.read.parquet(path + "/params")
      .select("m", "efc", "shards", "metric", "seed", "hier").head()
    // restore whole-shard partitioning: every serve and the
    // rebuild passthrough assume a shard's rows sit in ONE partition
    // (fit/remove/rebuildShards all route by shard) — a saved shard
    // file larger than files.maxPartitionBytes would otherwise split
    // across input partitions and searchShards' id→idx map would miss
    // adjacency ids living in the other split
    new NswModel(p.getInt(0), p.getInt(1), p.getInt(2), p.getString(3),
      p.getLong(4), spark.read.parquet(path + "/graph")
        .repartition(p.getInt(2), col("shard")), p.getBoolean(5))
  }
}

/** Fitted NSW model: the sharded graph as a DataFrame (one row per
  * node: shard, id, vector, adjacency, tombstone flag) — the store
  * never leaves the executors. `graph` is checkpoint-materialized by
  * fit, so repeated query batches reuse it.
  *
  * Delta LIFECYCLE (the forest-store discipline, adapted to graphs):
  * a frozen shard graph can't take single inserts in parallel, but a
  * shard CAN be rebuilt independently — so [[append]] rebuilds only
  * the shards the delta hashes into (a k-row delta touches ≤ min(k, S)
  * shards; every other shard passes through untouched), [[remove]]
  * tombstones via the same admission flag the filtered serve uses
  * (deleted nodes still route, never surface), and [[compact]]
  * rebuilds only the shards whose tombstone ratio crossed the
  * threshold. Because a shard build is a pure function of its live
  * (id, vector) set (insertion is id-ordered), append/compact output
  * is BIT-IDENTICAL to a fresh fit of the union — specced, not just
  * claimed. Caller dedups deltas against the store (the q93 ingest
  * machinery), same contract as the forest/IVF appends. */
class NswModel(val m: Int, val efConstruction: Int, val numShards: Int,
    val metric: String, val seed: Long, val graph: DataFrame,
    val hierarchy: Boolean = false)
    extends Serializable {

  /** Top-k ANN join: every shard beam-searches the broadcast query
    * batch (queries must be broadcast-sized — the same contract as the
    * repo's other broadcast-query serving joins), then one global
    * top-k merge over |q|·S·k candidate rows keeps the union's best.
    * `ef` is the per-shard beam width (recall knob, ≥ topK). Distances
    * are exact squared euclid (in l2-normalized space when the model is
    * cosine — monotone with cosine), so no rerank pass is needed. */
  def knnJoin(queries: DataFrame, topK: Int, ef: Int = 64,
      queryId: String = "query_id", queryVec: String = "qvec",
      numEntries: Int = 1): DataFrame =
    graft.plans.TopKPerKey.rankedTopK(
        serve(graph.withColumn("__ok", !col("del")), queries, topK, ef,
          Double.PositiveInfinity, queryId, queryVec, numEntries),
        "query_id", Seq("dist", "neighbor_id"), topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))

  /** Attribute-FILTERED top-k (the forest/IVF `corpusFilter` parity):
    * only ids present in `allowed` may enter a result heap, but every
    * node still routes — filtering edges would disconnect the graph,
    * so a selective filter costs traversal, never recall (it degrades
    * toward a shard scan). The flag rides the graph rows through one
    * left semi-style join per batch; a standing filtered workload
    * should persist the flag on the graph instead. `ef` should
    * oversample roughly by the filter's selectivity. */
  def knnJoinFiltered(queries: DataFrame, allowed: DataFrame, topK: Int,
      ef: Int = 64, allowedId: String = "vec_id",
      queryId: String = "query_id", queryVec: String = "qvec",
      numEntries: Int = 1): DataFrame = {
    // the flag join hash-partitions by node_id; searchShards needs a
    // shard whole within one partition, so route back by shard (the
    // wide columns shuffle once per batch — persist the flag on the
    // graph for a standing filtered workload)
    val flagged = graph.join(
        allowed.select(col(allowedId).cast("long").as("node_id")).distinct()
          .withColumn("__alw", lit(true)),
        Seq("node_id"), "left")
      .withColumn("__ok", coalesce(col("__alw"), lit(false)) && !col("del"))
      .repartition(numShards, col("shard"))
    graft.plans.TopKPerKey.rankedTopK(
        serve(flagged, queries, topK, ef, Double.PositiveInfinity,
          queryId, queryVec, numEntries),
        "query_id", Seq("dist", "neighbor_id"), topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** Distance-threshold serve (the forest/IVF radius parity), with the
    * graph family's honest contract: per shard, up to `ef` nearest
    * in-radius neighbors are found by the same beam — a radius holding
    * more than `ef` points per shard is truncated to the closest `ef`
    * (raise `ef` for dense radii; exactness needs the bucketed
    * backends). Output (query_id, neighbor_id, dist), unranked. */
  def radiusJoin(queries: DataFrame, maxDist: Double, ef: Int = 64,
      queryId: String = "query_id", queryVec: String = "qvec",
      numEntries: Int = 1): DataFrame =
    serve(graph.withColumn("__ok", !col("del")), queries, ef, ef, maxDist,
      queryId, queryVec, numEntries)

  /** Shared serve core: broadcast the (metric-normalized) query batch,
    * beam every shard of `flagged` (graph rows + `__ok` admission
    * flag), emit per-shard candidates. */
  private def serve(flagged: DataFrame, queries: DataFrame, topK: Int,
      ef: Int, maxDist: Double, queryId: String, queryVec: String,
      numEntries: Int = 1): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    import graft.functions.VectorFunctions.l2Normalize
    val qExpr =
      if (metric == "cosine") l2Normalize(col(queryVec).cast("array<float>"))
      else col(queryVec).cast("array<float>")
    val qs: Array[(Long, Array[Float])] = queries
      .select(col(queryId).cast("long"), qExpr)
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }
    val bc = spark.sparkContext.broadcast(qs)
    val k = topK; val beamEf = ef; val md = maxDist; val ne = numEntries
    flagged
      .select(col("shard"), col("node_id"), col("vec"), col("nbrs"),
        col("hnbrs"), col("__ok"))
      .as[(Int, Long, Seq[Float], Seq[Long], Seq[Seq[Long]], Boolean)]
      .mapPartitions(it => NswGraph.searchShards(it, bc.value, k, beamEf, md, ne))
      .toDF("query_id", "neighbor_id", "dist")
  }

  /** Rebuild the given shards from `rows` (live (shard, node_id, vec)
    * triples routed there) and pass every other shard through — the
    * single rebuild core behind [[append]] and [[compact]]. */
  private def rebuildShards(touched: Seq[Int], rows: DataFrame): NswModel = {
    val spark = graph.sparkSession
    import spark.implicits._
    val mm = m; val efc = efConstruction; val sd = seed; val hier = hierarchy
    val rebuilt = rows
      .as[(Int, Long, Seq[Float])]
      .repartition(math.max(touched.length, 1), col("shard"))
      .mapPartitions(it => NswGraph.buildShards(it, mm, efc, sd, hier))
      .toDF("shard", "node_id", "vec", "nbrs", "hnbrs")
      .withColumn("del", lit(false))
    val untouched = graph.filter(!col("shard").isin(touched: _*))
      .select("shard", "node_id", "vec", "nbrs", "hnbrs", "del")
    new NswModel(m, efConstruction, numShards, metric, seed,
      untouched.unionByName(rebuilt).localCheckpoint(), hierarchy)
  }

  /** Ingest a delta by rebuilding ONLY the shards it hashes into:
    * touched-shard live rows ∪ delta rows re-run the seeded id-ordered
    * build, so the result is bit-identical to a fresh fit of the union
    * (touched shards also compact in passing — their tombstones purge
    * for free). A k-row delta rebuilds ≤ min(k, numShards) shards.
    * Delta must be deduped against the store by the caller (q93's
    * ingest admission), same contract as the forest/IVF appends. */
  def append(delta: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): NswModel = {
    val deltaRows = NswGraph(m, efConstruction, numShards, metric, seed,
        hierarchy)
      .routeRows(delta, idCol, vecCol)
    val touched = deltaRows.select("shard").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) this
    else rebuildShards(touched,
      graph.filter(col("shard").isin(touched: _*) && !col("del"))
        .select("shard", "node_id", "vec")
        .unionByName(deltaRows))
  }

  /** Tombstone `ids`: marked nodes still ROUTE (dropping them would
    * tear edges and strand graph regions) but never surface — the
    * admission flag the filtered serve already uses. Physical purge is
    * [[compact]]'s job. */
  def remove(ids: DataFrame, idCol: String = "vec_id"): NswModel = {
    val marked = graph.join(
        ids.select(col(idCol).cast("long").as("node_id")).distinct()
          .withColumn("__rm", lit(true)),
        Seq("node_id"), "left")
      .withColumn("del", col("del") || coalesce(col("__rm"), lit(false)))
      .select("shard", "node_id", "vec", "nbrs", "hnbrs", "del")
      // the id join hash-partitions by node_id; serving needs whole
      // shards per partition
      .repartition(numShards, col("shard"))
    new NswModel(m, efConstruction, numShards, metric, seed,
      marked.localCheckpoint(), hierarchy)
  }

  /** Ratio-gated physical purge: rebuild only the shards whose
    * tombstone fraction exceeds `maxDeadRatio` (live rows re-run the
    * seeded build — fit-identical, like [[append]]); healthy shards
    * pass through untouched. */
  def compact(maxDeadRatio: Double = 0.2): NswModel = {
    val touched = graph.groupBy("shard")
      .agg(avg(col("del").cast("double")).as("ratio"))
      .filter(col("ratio") > maxDeadRatio)
      .select("shard").collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) this
    else rebuildShards(touched,
      graph.filter(col("shard").isin(touched: _*) && !col("del"))
        .select("shard", "node_id", "vec"))
  }

  /** Graph health: per-shard node counts, degree stats and tombstone
    * backlog — the NSW analog of the forest's describe(). */
  def describe(): DataFrame =
    graph.groupBy(col("shard")).agg(
      count(lit(1)).as("nodes"),
      sum(col("del").cast("long")).as("tombstones"),
      round(avg(size(col("nbrs"))), 2).as("avg_degree"),
      max(size(col("nbrs"))).as("max_degree"),
      min(size(col("nbrs"))).as("min_degree"))
      .orderBy(col("shard"))

  def save(path: String): Unit = {
    val spark = graph.sparkSession
    import spark.implicits._
    graph.write.mode("overwrite").parquet(path + "/graph")
    Seq((m, efConstruction, numShards, metric, seed, hierarchy))
      .toDF("m", "efc", "shards", "metric", "seed", "hier")
      .write.mode("overwrite").parquet(path + "/params")
  }
}

/** The STANDING-TABLE face of the NSW graph (round-10 verdict #1/#3)
  * — the `IvfIndex.knnJoinStore` discipline for the graph family: at
  * 100 TB the graph lives as a catalog table, not a driver-held model
  * checkpoint, and every operation below reads/writes that table
  * directly (no fit, no localCheckpoint, no model materialization
  * beyond a lazy wrapper over the table scan).
  *
  * Layout: `<table>` = the model's graph rows (shard, node_id, vec,
  * nbrs, del) bucketed by the INT shard id — one bucket per shard, so
  * a serve's whole-shard routing is one narrow exchange of exactly the
  * rows it beams — plus the 1-row `<table>_params` (m, efc, shards,
  * metric, seed) that freezes the build geometry the way the IVF
  * store freezes its quantizer.
  *
  * Lifecycle: [[upsertStore]] applies one batch's departures and
  * arrivals in a SINGLE rebuild pass over only the touched shards —
  * and because a shard build is a pure id-ordered function of its
  * live rows, the table after ANY upsert history is BIT-IDENTICAL to
  * [[saveStore]] of a fresh fit of the live set (the q206 equality,
  * now as a standing-table invariant: tombstones never persist, every
  * del-carrying shard rebuilds in the same pass its delta does).
  * That exactness is what lets [[graft.streaming.IndexMaintenance
  * .nswStoreFold]] gate the maintained store against a fresh fit with
  * EQUALITY bits rather than the recall floors the forest/IVF folds
  * settle for. */
object NswStore {

  private[ann] def params(spark: SparkSession, table: String): NswGraph = {
    require(spark.catalog.tableExists(table + "_params"),
      s"${table}_params missing — saveStore first")
    val pt = spark.table(table + "_params")
    // migration guard (the knnJoinStoreBq discipline): a store
    // persisted before the hierarchy flag existed cannot be served —
    // its graph rows also lack the hnbrs column
    require(pt.columns.contains("hier"),
      s"${table}_params predates the hierarchy flag — rebuild via saveStore")
    val p = pt.select("m", "efc", "shards", "metric", "seed", "hier").head()
    NswGraph(p.getInt(0), p.getInt(1), p.getInt(2), p.getString(3),
      p.getLong(4), p.getBoolean(5))
  }

  /** Persist a fitted model as the standing store: graph rows bucketed
    * by shard (one bucket per shard), params as a 1-row side table.
    * Location-safe overwrite (the repo's dropTable discipline). */
  def saveStore(model: NswModel, table: String): Unit = {
    val spark = model.graph.sparkSession
    import spark.implicits._
    graft.sources.Sinks.parquetBucketed(
      model.graph.select(col("shard"), col("node_id"), col("vec"),
        col("nbrs"), col("hnbrs"), col("del")),
      table, model.numShards, Seq("shard"), Seq("shard", "node_id"))
    graft.sources.Sinks.dropTable(spark, table + "_params")
    Seq((model.m, model.efConstruction, model.numShards, model.metric,
        model.seed, model.hierarchy))
      .toDF("m", "efc", "shards", "metric", "seed", "hier")
      .write.format("parquet").saveAsTable(table + "_params")
  }

  /** Lazy model view over the standing table — no fit, no checkpoint:
    * `graph` IS the (shard-restored) table scan, so [[NswModel]]'s
    * whole serve surface runs straight off the store. The repartition
    * restores the whole-shard-per-partition contract serving needs
    * (same reasoning as [[NswGraph.load]]); with one bucket per shard
    * it is a narrow routing exchange of exactly the served rows. */
  def loadStore(spark: SparkSession, table: String): NswModel = {
    val p = params(spark, table)
    new NswModel(p.m, p.efConstruction, p.numShards, p.metric, p.seed,
      spark.table(table).repartition(p.numShards, col("shard")),
      p.hierarchy)
  }

  /** Top-k serve straight from the standing table (the
    * `IvfIndex.knnJoinStore` analog): scan → shard routing →
    * per-shard beam → global top-k merge. Exactly [[NswModel.knnJoin]]
    * over the same rows — specced, and q209 pins the equality under
    * the driver gate. */
  def knnJoinStore(spark: SparkSession, table: String, queries: DataFrame,
      topK: Int, ef: Int = 64, numEntries: Int = 1,
      queryId: String = "query_id", queryVec: String = "qvec"): DataFrame =
    loadStore(spark, table).knnJoin(queries, topK, ef, queryId, queryVec,
      numEntries)

  /** Apply one batch's DEPARTURES (`gone`: one id column) and
    * ARRIVALS (`put`: (id, vector)) to the standing store in a single
    * touched-shard rebuild pass:
    *
    *   1. departures mark their rows dead;
    *   2. arrivals route to their home shards ([[NswGraph.routeRows]]
    *      — the same preprocessing a fresh fit runs);
    *   3. every shard holding a mark OR receiving delta rows rebuilds
    *      from its live rows ∪ its delta (the seeded id-ordered build
    *      — bit-identical to a fresh fit of that live set), every
    *      other shard passes through byte-untouched;
    *   4. the new graph settles, then overwrites the table (Spark
    *      cannot overwrite a table its own plan reads).
    *
    * A k-row batch touches ≤ min(k, numShards) shards — O(delta)
    * shard rebuilds, never a full-store rewrite — and because step 3
    * purges in the same pass it applies, tombstones NEVER persist:
    * after any upsert history the table is bit-identical to
    * [[saveStore]] of a fresh fit of the live set. A changed id must
    * appear in BOTH frames (departure + arrival with the new vector)
    * — the [[graft.streaming.IndexMaintenance.VecFold]] contract;
    * arrivals must be deduped against the store by the caller (the
    * gated-admission machinery), same as every ANN append here. */
  def upsertStore(spark: SparkSession, table: String,
      gone: DataFrame, put: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    import spark.implicits._
    val p = params(spark, table)
    val goneIds = gone
      .select(col(gone.columns.head).cast("long").as("node_id")).distinct()
    val marked = spark.table(table)
      .join(goneIds.withColumn("__rm", lit(true)), Seq("node_id"), "left")
      .withColumn("del", col("del") || coalesce(col("__rm"), lit(false)))
      .select("shard", "node_id", "vec", "nbrs", "hnbrs", "del")
    val deltaRows = p.routeRows(put, idCol, vecCol).localCheckpoint()
    val touched = marked.filter(col("del")).select("shard").distinct()
      .unionByName(deltaRows.select("shard").distinct()).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    if (touched.isEmpty) return
    val mm = p.m; val efc = p.efConstruction
    val sd = p.seed; val hier = p.hierarchy
    val rebuilt = marked
      .filter(col("shard").isin(touched: _*) && !col("del"))
      .select("shard", "node_id", "vec")
      .unionByName(deltaRows)
      .as[(Int, Long, Seq[Float])]
      .repartition(touched.length, col("shard"))
      .mapPartitions(it => NswGraph.buildShards(it, mm, efc, sd, hier))
      .toDF("shard", "node_id", "vec", "nbrs", "hnbrs")
      .withColumn("del", lit(false))
    val next = marked.filter(!col("shard").isin(touched: _*))
      .unionByName(rebuilt)
      .localCheckpoint() // settle-then-overwrite
    graft.sources.Sinks.parquetBucketed(next, table, p.numShards,
      Seq("shard"), Seq("shard", "node_id"))
  }
}
