package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ): the compressed-vector scale path.
  *
  * The reference (and our other backends) keep raw f32 vectors
  * everywhere; at 100 TB that is the dominant storage and shuffle cost.
  * PQ splits each d-dim vector into `m` subvectors and quantizes each
  * subvector against its own 256-centroid codebook, so a vector becomes
  * `m` bytes — 300-dim f32 (1200 B) compresses to 8-16 B, ~100×. Scans
  * then score candidates with ADC (asymmetric distance computation): per
  * query, one m×256 lookup table of exact sub-distances is built once,
  * and each candidate costs m table lookups + adds instead of d
  * multiply-accumulates over floats that had to be read from disk.
  *
  * Design (mirrors FAISS IndexPQ / IVFPQ, public): codebooks are trained
  * driver-side on a bounded sample via the same seeded kmeans++/Lloyd as
  * [[IvfIndex]] (quantizer cost independent of corpus size), broadcast
  * (m·256·dsub floats — a few hundred KB), and both encode and ADC
  * scoring are narrow, shuffle-free map stages. Candidate top-k uses the
  * shared bounded-heap tail, and an optional exact re-rank of the top
  * r·k refines against the raw vectors (the standard PQ recall fix; at
  * scale the raw vectors stream from the columnar store only for the
  * r·k survivors per query).
  */
case class PqIndex(m: Int = 8, seed: Long = 42L, sampleCap: Int = 65536) {

  /** Train per-subspace codebooks on a bounded uniform sample (same
    * sampling contract as [[IvfIndex.fit]]: Bernoulli at cap/n, never a
    * partition-order prefix). Requires dim % m == 0. */
  def fit(df: DataFrame, vecCol: String = "embedding"): PqModel = {
    val n = df.count()
    val uniform =
      if (n <= sampleCap) df
      else df.sample(math.min(1.0, sampleCap.toDouble / n), seed)
    val train = IvfModel.trainingSet(uniform, vecCol, "PQ fit")
    require(train.nonEmpty, "PQ fit: empty training set")
    val dim = train(0).length
    require(dim % m == 0, s"PQ fit: dim $dim not divisible by m=$m")
    val dsub = dim / m
    // 256 centroids per subspace = 8-bit codes. Each subspace trains an
    // independent seeded Lloyd (seed varies per subspace so codebooks
    // are not correlated); training cost m · O(sample·256·iters·dsub).
    val codebooks: Array[Array[Array[Float]]] = Array.tabulate(m) { s =>
      val sub = train.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      IvfIndex.lloyd(sub, k = 256, iters = 8, seed = seed + 31L * s)
    }
    new PqModel(codebooks, dsub)
  }
}

object PqModel {
  /** Load a model persisted by [[PqModel.save]]. */
  def load(path: String, spark: SparkSession): PqModel = {
    val dsub = spark.read.parquet(s"$path/meta").head().getInt(0)
    val rows = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    val codebooks = Array.tabulate(m) { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
    new PqModel(codebooks, dsub)
  }
}

class PqModel(val codebooks: Array[Array[Array[Float]]], val dsub: Int)
    extends Serializable {
  val m: Int = codebooks.length
  val dim: Int = m * dsub

  /** Nearest-centroid code per subspace; one byte each (0..255 stored
    * as a signed byte, read back with & 0xFF). */
  private[graft] def encodeVec(v: Array[Float]): Array[Byte] = {
    val code = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        var acc = 0.0
        var i = 0
        val off = s * dsub
        val cent = cb(c)
        while (i < dsub) {
          val d = v(off + i).toDouble - cent(i).toDouble
          acc += d * d
          i += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      code(s) = best.toByte
      s += 1
    }
    code
  }

  /** Reconstruct the quantized vector (centroid concatenation). */
  private[graft] def decodeVec(code: Array[Byte]): Array[Float] = {
    val out = new Array[Float](dim)
    var s = 0
    while (s < m) {
      System.arraycopy(codebooks(s)(code(s) & 0xFF), 0, out, s * dsub, dsub)
      s += 1
    }
    out
  }

  /** ADC lookup table for one query: flat m×256 doubles,
    * table(s·256+c) = exact squared distance from the query's s-th
    * subvector to centroid c. Built once per query (cost ≈ scoring 256
    * raw vectors), then every candidate costs m lookups. */
  private[graft] def adcTable(q: Array[Float]): Array[Double] = {
    val t = new Array[Double](m * 256)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val off = s * dsub
      var c = 0
      while (c < cb.length) {
        var acc = 0.0
        var i = 0
        val cent = cb(c)
        while (i < dsub) {
          val d = q(off + i).toDouble - cent(i).toDouble
          acc += d * d
          i += 1
        }
        t(s * 256 + c) = acc
        c += 1
      }
      s += 1
    }
    t
  }

  private[graft] def adcDist(table: Array[Double], code: Array[Byte]): Double = {
    var acc = 0.0
    var s = 0
    while (s < m) { acc += table(s * 256 + (code(s) & 0xFF)); s += 1 }
    acc
  }

  /** Append a `pq_code BINARY` column: the corpus compressed m bytes per
    * row. Narrow (no shuffle); at scale this is the write-once encode
    * pass whose output is the standing compressed table. A null vector
    * or one of another length than the codebooks' `dim` fails by name
    * ([[AnnForestModel.checkedVector]]). */
  def encode(df: DataFrame, vecCol: String = "embedding",
      outCol: String = "pq_code"): DataFrame = {
    val model = this
    val enc = udf { (v: Seq[Float]) => model.encodeVec(v.toArray) }
    df.withColumn(vecCol, AnnForestModel.checkedVector(col(vecCol), dim,
        "PQ encode", s"expected $dim"))
      .withColumn(outCol, enc(col(vecCol).cast("array<float>")))
  }

  /** Approximate k-NN join over the COMPRESSED corpus: the query batch
    * is collected and broadcast WITH its precomputed ADC tables (m·256
    * doubles per query — thousands of queries stay well under broadcast
    * limits), and the encoded corpus streams through one mapPartitions
    * scan reading only (id, pq_code) — never the raw vectors. Each
    * partition keeps a bounded (dist, id) heap per query, so at most
    * partitions·topK rows per query cross the single shuffle into the
    * final TopKPerKey merge.
    *
    * Deliberately NOT a crossJoin + scoring-UDF column: a joined-row UDF
    * re-materializes the 2048-double table from the unsafe row for every
    * (query, row) pair — measured unusable at 2k×200k (≫8 min); this
    * shape scans the same pairs in ~seconds. For query sets too large to
    * collect, use [[knnJoinIvf]] (both sides stay distributed).
    *
    * CONTRACT: ids on both sides must be non-null numerics (they are
    * cast to LONG — the engine-wide id type, see
    * [[graft.api.VectorRecord]]); query ids must be unique (the top-k
    * merge groups by query id, as in every kNN backend).
    *
    * Returns (query_id, neighbor_id, dist, rank) with `dist` the ADC
    * approximation of squared euclidean. For exact distances on the
    * survivors use [[refine]].
    */
  def knnJoin(
      encodedCorpus: DataFrame, queries: DataFrame, topK: Int,
      corpusId: String = "vec_id", codeCol: String = "pq_code",
      queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    val model = this
    val spark = encodedCorpus.sparkSession
    val qArr: Array[(Long, Array[Double])] = queries
      .select(col(queryId).cast("long"), col(queryVec).cast("array<float>"))
      .collect()
      .map { r =>
        require(!r.isNullAt(1), s"PQ knnJoin: query ${r.get(0)} has a null vector")
        val q = r.getSeq[Float](1).toArray
        require(q.length == dim,
          s"PQ knnJoin: query ${r.get(0)} has ${q.length} dims, expected $dim")
        (r.getLong(0), model.adcTable(q))
      }
    val bc = spark.sparkContext.broadcast(qArr)
    import spark.implicits._
    val partial = graft.GraftSession.widen(encodedCorpus)
      .select(col(corpusId).cast("long"), col(codeCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val qs = bc.value
        val nq = qs.length
        // bounded max-heaps ordered by (dist, neighbor_id) — identical
        // tiebreak to the window/TopKPerKey formulation, so the global
        // merge is hash-identical to a full sort
        val ord = Ordering.Tuple2[Double, Long]
        val heaps = Array.fill(nq)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
        it.foreach { case (nid, code) =>
          var qi = 0
          while (qi < nq) {
            val d = model.adcDist(qs(qi)._2, code)
            val h = heaps(qi)
            if (h.size < topK) h.enqueue((d, nid))
            else if (ord.lt((d, nid), h.head)) { h.dequeue(); h.enqueue((d, nid)) }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (d, nid) => (qs(qi)._1, nid, d) }
        }
      }
      .toDF("query_id", "neighbor_id", "dist")
    graft.plans.TopKPerKey.rankedTopK(
      partial.withColumnRenamed("query_id", queryId),
      queryId, Seq("dist", "neighbor_id"), topK)
  }

  /** Exact re-rank of ADC candidates: joins the top r·k ADC survivors
    * back to the raw vectors (equi-join on id — broadcastable when the
    * candidate set is small, shuffle-partitioned otherwise) and re-ranks
    * by exact squared euclidean. The standard PQ recall refinement: the
    * raw store is touched only for candidates, so the full-corpus scan
    * stays compressed. */
  def refine(
      candidates: DataFrame, corpus: DataFrame, queries: DataFrame, topK: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    import graft.functions.VectorFunctions.sqEucDist
    val exact = candidates
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryId), col(queryVec).as("__qv"))), Seq(queryId))
      .select(col(queryId), col("neighbor_id"),
        sqEucDist(col("__cv"), col("__qv")).as("dist"))
    graft.plans.TopKPerKey.rankedTopK(exact, queryId, Seq("dist", "neighbor_id"), topK)
  }

  /** IVF-PQ: coarse cells bound the scan, PQ codes bound the bytes —
    * the composition large-scale vector stores actually run (FAISS
    * IVFPQ). Corpus rows carry (cell, pq_code); queries probe `nprobe`
    * cells; scoring happens only inside probed cells after an equi-join
    * on the compact INT cell id, as exact distance to the decoded code
    * (≡ ADC — pinned in PqSpec). Both sides stay distributed — use this
    * over [[knnJoin]] when the query set is too large to collect.
    * Query ids must be unique (the top-k tail merges by query id, as in
    * every kNN backend). */
  def knnJoinIvf(
      ivf: IvfModel, corpus: DataFrame, queries: DataFrame, topK: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    val model = this
    // Scoring = native sqEucDist(qvec, decode(code)): mathematically
    // the ADC distance (the spec pins adcDist == sqDist-to-decoded),
    // but the only UDF work per candidate row is decoding m BYTES into
    // a primitive float array — the query vector is read directly from
    // the joined row by the codegen'd distance kernel, never converted
    // into a JVM arg. Earlier formulations paid per-row conversion of
    // either the 2048-double ADC table (unusable) or the qvec arg of a
    // cached-table UDF (measured ~17× slower than the raw-vector IVF
    // join on 50M candidate rows).
    val decodeUdf = udf { (code: Array[Byte]) => model.decodeVec(code) }
    // One encode+assign pass over the raw corpus (both narrow); the raw
    // vector is dropped before the join, so the shuffle on `cell` moves
    // only (id, m-byte code, int) rows. For a standing corpus this is
    // the table you persist bucketed by cell.
    val c = ivf
      .assignCells(
        encode(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")), "__cv"),
        "__cv", n = 1)
      .select(col("cell"), col("neighbor_id"), col("pq_code"))
    val q = ivf
      .assignCells(
        queries.select(col(queryId).cast("long").as(queryId), col(queryVec).as("__qv")),
        "__qv", n = ivf.nprobe)
      .select(col("cell"), col(queryId), col("__qv"))
    // A (query, neighbor) pair can meet in at most one cell (corpus rows
    // have a single home cell), so candidates are already pair-unique;
    // the shared dedup tail's min-agg is then a no-op pass-through, but
    // keeps the one-exchange property uniform across kNN backends.
    val candidates = q.join(c, Seq("cell"))
      .select(col(queryId).as("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions
          .sqEucDist(col("__qv"), decodeUdf(col("pq_code"))).as("dist"))
    BucketSelfJoin.dedupTopK(candidates, topK)
  }

  /** Persist the compressed, cell-assigned corpus as a bucketed table —
    * the STANDING form of [[knnJoinIvf]]'s corpus side, and the layout a
    * 100 TB compressed vector store actually keeps: one narrow
    * encode+assign pass plus the one-time bucket-write shuffle on the
    * INT cell id, and every later query batch pays zero corpus-side
    * shuffle (the bucketed layout satisfies the join's distribution;
    * asserted in PqSpec). Rows are (cell, neighbor_id, pq_code) — m
    * bytes per vector instead of 4·dim. */
  def saveCorpusIvf(ivf: IvfModel, corpus: DataFrame, table: String,
      buckets: Int = 32,
      corpusId: String = "vec_id", corpusVec: String = "embedding"): Unit = {
    // a fresh save starts a fresh lifecycle: clear tombstones left at
    // this name by a previous store generation
    graft.sources.Sinks.dropTable(corpus.sparkSession, table + "_tombstones")
    val c = ivf
      .assignCells(
        encode(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")), "__cv"),
        "__cv", n = 1)
      .select(col("cell"), col("neighbor_id"), col("pq_code"))
    graft.sources.Sinks.parquetBucketed(c, table, buckets, Seq("cell"), Seq("cell"))
  }

  /** IVF-PQ serving against a [[saveCorpusIvf]] table: probe cells,
    * equi-join the standing compressed corpus on `cell` (no corpus-side
    * exchange — the table is bucketed on the join key), decode+score,
    * bounded-heap top-k. Result-identical to [[knnJoinIvf]] over the
    * same corpus/quantizers (same home-cell assignment, same ADC
    * distances — specced). */
  def knnJoinIvfIndexed(spark: SparkSession, ivf: IvfModel, table: String,
      queries: DataFrame, topK: Int,
      queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    val model = this
    val decodeUdf = udf { (code: Array[Byte]) => model.decodeVec(code) }
    val q = ivf
      .assignCells(
        queries.select(col(queryId).cast("long").as(queryId), col(queryVec).as("__qv")),
        "__qv", n = ivf.nprobe)
      .select(col("cell"), col(queryId), col("__qv"))
    // pending tombstones subtract BEFORE the cell join (delete-batch-
    // sized anti-join, AQE-broadcast) — the same immediate-delete
    // visibility the IVF float store and Bm25 serving give
    val candidates = q.join(AnnStores.liveRows(spark, table), Seq("cell"))
      .select(col(queryId).as("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions
          .sqEucDist(col("__qv"), decodeUdf(col("pq_code"))).as("dist"))
    BucketSelfJoin.dedupTopK(candidates, topK)
  }

  /** Append a corpus delta to a [[saveCorpusIvf]] store WITHOUT
    * retraining either quantizer: frozen codebooks encode the delta,
    * frozen centroids assign its home cells, and the rows append into
    * the bucketed table (bucket spec survives appends, so the
    * zero-exchange serving join keeps holding). The IVF-PQ sibling of
    * [[IvfModel.appendStore]] — before this, the compressed store
    * could not ingest a delta at all. */
  def appendCorpusIvf(ivf: IvfModel, delta: DataFrame, table: String,
      buckets: Int = 32,
      corpusId: String = "vec_id", corpusVec: String = "embedding"): Unit = {
    val c = ivf
      .assignCells(
        encode(delta.select(col(corpusId).as("neighbor_id"),
          col(corpusVec).as("__cv")), "__cv"),
        "__cv", n = 1)
      .select(col("cell"), col("neighbor_id"), col("pq_code"))
    c.write.mode("append").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(table)
  }

  /** Delete ids from the compressed standing store: tombstone append,
    * purged physically by [[compactCorpusIvf]]. */
  def removeCorpusIvf(spark: SparkSession, table: String, ids: DataFrame): Unit =
    AnnStores.markTombstones(spark, table, ids)

  /** Rewrite the compressed store minus its tombstones and drop the
    * tombstone table (settle-then-overwrite). */
  def compactCorpusIvf(spark: SparkSession, table: String,
      buckets: Int = 32): Unit = {
    if (!spark.catalog.tableExists(table + "_tombstones")) return
    // restore the table's own column order after the key-first
    // anti-join — layout stays stable across compactions
    val cols = spark.table(table).columns
    val live = AnnStores.liveRows(spark, table)
      .select(cols.toIndexedSeq.map(col): _*).localCheckpoint()
    graft.sources.Sinks.parquetBucketed(live, table, buckets,
      Seq("cell"), Seq("cell"))
    graft.sources.Sinks.dropTable(spark, table + "_tombstones")
  }

  /** Persist the codebooks as plain parquet (subspace, centroid id,
    * centroid), mirroring [[IvfModel.save]] — the compressed corpus is
    * not part of the model. */
  def save(path: String, spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = for {
      s <- codebooks.indices
      c <- codebooks(s).indices
    } yield (s, c, codebooks(s)(c).toSeq)
    rows.toDF("subspace", "centroid_id", "centroid")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    Seq(dsub).toDF("dsub").write.mode("overwrite").parquet(s"$path/meta")
  }
}
