package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.{DistributedAnnForest, DistributedAnnModel}

/** SEMANTIC near-duplicate admission at ingest — the embedding-space
  * sibling of [[IngestDedup]]: a vector is admitted iff no earlier-seen
  * vector is within cosine `minCos` of it. Same seen-store semantics
  * (every seen vector rejects later arrivals, admitted or not), so the
  * admitted set is independent of batching and q93 carries a full
  * DuckDB oracle: admitted = the later side of no exact cosine pair.
  *
  * The standing state is a [[DistributedAnnModel]] vector store:
  *   - batch 1 fits the forest; later batches [[DistributedAnnModel.append]]
  *     through the FROZEN planes — the ingest path of the standing
  *     store, no rebuild per batch.
  *   - cross-batch checks are ONE radius join against the routed
  *     buckets (cosine radius maxDist = 2·(1−minCos)) with query-side
  *     spill for recall and zone maps cancelling unreachable probes —
  *     per-batch cost follows probed buckets, not corpus size.
  *   - in-batch checks are exact brute-force pairs over the micro-batch
  *     alone (honest: the batch is tiny by definition).
  *
  * Recall contract: spill eps must recover every in-radius pair for the
  * admission set to equal the exact semantics — eps 0.25 / 8 leaves
  * reproduces it exactly on the fixture across frozen-plane appends
  * (measured by ProbeVecIngest: falseAdmit=0, falseReject=0); the gate (q93)
  * re-proves it every round against the brute-force oracle.
  */
object VectorIngest {

  /** Admit one micro-batch against the standing store; returns the
    * admitted ids (one `id` column, materialized) and the store with
    * the batch appended (ALL seen vectors join the store). */
  def admitBatch(batch: DataFrame, store: Option[DistributedAnnModel],
      minCos: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      numTrees: Int = 50, maxLeafSize: Int = 5, maxDepth: Int = 16,
      seed: Long = 42L, spillEps: Double = 0.25, maxLeaves: Int = 8)
      : (DataFrame, DistributedAnnModel) = {
    val maxDist = 2.0 * (1.0 - minCos)
    val b = batch.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"))
      .localCheckpoint()
    val rejInBatch = graft.operators.TextDedup.cosineNearDupPairs(
        b, "id", "__v", minCos)
      .select(col("id_b").as("id")).distinct()
    val rejOld = store match {
      case None => b.select(col("id")).limit(0)
      case Some(m) =>
        m.radiusJoin(b.select(col("id").as("query_id"), col("__v").as("qvec")),
            maxDist, querySpillEps = spillEps, queryMaxLeaves = maxLeaves,
            useZoneMaps = true)
          .select(col("query_id").as("id")).distinct()
    }
    val admitted = b.select(col("id"))
      .join(rejInBatch, Seq("id"), "left_anti")
      .join(rejOld, Seq("id"), "left_anti")
      .localCheckpoint() // settle before the store grows
    val updated = store match {
      case None => DistributedAnnForest(numTrees, maxLeafSize,
        maxDepth = maxDepth, seed = seed, metric = "cosine")
        .fit(b, "id", "__v")
      case Some(m) => m.append(b, "id", "__v")
    }
    (admitted, updated)
  }

  /** Batch-mode replay in contiguous ascending id ranges — the same
    * admitBatch the streaming wiring runs; q93 drives this under the
    * exact-pair oracle. */
  def replayInBatches(vectors: DataFrame, nBatches: Int, minCos: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      spillEps: Double = 0.25, maxLeaves: Int = 8): DataFrame = {
    val maxId = vectors.agg(max(col(idCol))).head().getLong(0)
    val step = (maxId + nBatches) / nBatches
    var store: Option[DistributedAnnModel] = None
    (0 until nBatches).map { k =>
      val (admitted, updated) = admitBatch(
        vectors.filter(col(idCol) >= k * step && col(idCol) < (k + 1) * step),
        store, minCos, idCol, vecCol,
        spillEps = spillEps, maxLeaves = maxLeaves)
      store = Some(updated)
      admitted
    }.reduce(_.unionByName(_))
  }

  /** Streaming wiring: foreachBatch admission, handing admitted ids to
    * `sink`; the standing store lives across batches in the closure. */
  def ingestStream(vectors: DataFrame, sink: (DataFrame, Long) => Unit,
      minCos: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      spillEps: Double = 0.25, maxLeaves: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var store: Option[DistributedAnnModel] = None
    vectors.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (admitted, updated) = admitBatch(batch, store, minCos,
          idCol, vecCol, spillEps = spillEps, maxLeaves = maxLeaves)
        store = Some(updated)
        sink(admitted, batchId)
      }
  }
}
