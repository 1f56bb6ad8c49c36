package perfbench

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.{DistributedAnnForest, DistributedAnnModel}
import graft.operators.{Bm25, KnnExact}
import graft.streaming.{IndexMaintenance, IngestDedup}

/** Writes beside reads on a hybrid store: documents with text and a
  * 64-dim embedding, one MinHash admission gate in front of a BM25 index
  * and a DistributedAnnForest store. Waves of adds (some near-duplicate),
  * edits and deletes go through `applyGatedUpserts`; between waves one
  * client makes hybrid queries, each an ANN `knnJoin` then a BM25
  * `scoreIndexedTopKBatch` call. */
object StoreChurn {
  val Idx = "perfbench_idx"
  val Sig = "perfbench_sigs"
  val Buckets = 8
  val Champions = 32

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))

  private def frame(spark: SparkSession, us: Seq[Upsert]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(us.map(u => Row(u.id, u.text, u.vec)): _*), schema)

  /** Live ids of the BM25 index: indexed docs minus pending tombstones. */
  def bm25Ids(spark: SparkSession): Set[Long] = {
    val docs = spark.table(s"${Idx}_doclens").select(col("doc_id"))
    val live =
      if (spark.catalog.tableExists(s"${Idx}_tombstones"))
        docs.join(spark.table(s"${Idx}_tombstones").select(col("doc_id")), Seq("doc_id"), "left_anti")
      else docs
    live.collect().map(_.getLong(0)).toSet
  }

  def annIds(m: DistributedAnnModel): Set[Long] =
    m.corpusBuckets.select(col("neighbor_id")).distinct().collect().map(_.getLong(0)).toSet

  /** On-disk bytes of the standing store tables. */
  def storeBytes(spark: SparkSession): Long = {
    val wh = new java.io.File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))
    def size(f: java.io.File): Long = if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(size).sum else f.length
    Option(wh.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith(Idx) || f.getName.startsWith(Sig)).map(size).sum
  }

  def run(r: Run): Unit = {
    val t = r.tracer
    val seedDocs = if (r.args.tiny) 120 else 150
    val addsPerWave = if (r.args.tiny) 40 else 80
    val minWaves = 2
    val servesPerWave = if (r.args.tiny) 2 else 5
    val docSpec = DocSpec(vocab = 3000, zipfS = 1.05, minLen = 30, maxLen = 60,
      nearDupShare = 0.1, nearDupEdits = 2, editShare = 0.03, deleteShare = 0.03)
    val mix = MixtureSpec(rows = 0, dim = 64, clusters = 16, zipfS = 1.1, dupShare = 0.0)
    val (spark, (inputs, docs, seedRows, seedDf)) = r.setup(3) { spark =>
      val in = new Inputs(r.args.seed, mix)
      val d = new DocStream(r.args.seed, docSpec, in)
      val seed = d.adds(seedDocs)
      val s = frame(spark, seed).cache()
      s.count()
      (in, d, seed, s)
    }
    import spark.implicits._
    val queries = inputs.queries(128)
    /** The harness's own view of the live store: id -> the upsert that made it. */
    val live = mutable.LinkedHashMap.empty[Long, Upsert]
    val vecOf: Long => Array[Float] = id => live.get(id).map(_.vec).orNull

    def applyDelta(batch: Seq[Upsert], applied: Seq[(Long, String)]): Int = {
      val byId = batch.map(u => u.id -> u).toMap
      applied.foreach {
        case (id, "added" | "changed") => live(id) = byId(id)
        case (id, "removed") => live.remove(id)
        case _ =>
      }
      applied.count(_._2 == "added")
    }
    def appliedRows(df: DataFrame): Seq[(Long, String)] =
      df.select(col("doc_id"), col("status")).collect().toSeq.map(x => (x.getLong(0), x.getString(1)))

    // build: bootstrap wave, then the distributed forest on its admitted vectors
    IndexMaintenance.initStores(spark, Idx)
    IngestDedup.initStore(spark, Sig)
    graft.sources.Sinks.dropTable(spark, Sig + "_pending_rm")
    r.settle()
    val (ref, buildS) = r.time(t.span("phase:build") {
      val d1 = t.span("streaming.bootstrap")(appliedRows(IndexMaintenance.applyGatedUpserts(
        spark, Idx, Sig, seedDf, ver = 1L, buckets = Buckets, maintainChampions = Some(Champions))))
      applyDelta(seedRows, d1)
      val admitted = d1.filter(_._2 == "added").map(_._1).toDF("doc_id")
      val m = t.span("ann.dforest.fit")(DistributedAnnForest(numTrees = 8, maxLeafSize = 32, maxDepth = 8,
          seed = r.args.seed)
        .fit(seedDf.join(admitted, Seq("doc_id"), "left_semi").select("doc_id", "embedding"), idCol = "doc_id"))
      new AtomicReference(m)
    })
    r.metric("build_s", buildS, "s")

    val waveWalls = mutable.ArrayBuffer.empty[Double]
    val serveLat = mutable.ArrayBuffer.empty[Double]
    val annLat = mutable.ArrayBuffer.empty[Double]
    val bm25Lat = mutable.ArrayBuffer.empty[Double]
    var docsApplied = 0L
    var addsTried = 0L
    var addsAdmitted = 0L
    var bytesIngested = 0.0
    var ver = 1L
    var waves = 0
    val deadline = System.nanoTime() + (r.args.seconds * 1e9).toLong
    var qi = 0
    t.span("phase:churn") {
      while (waves < minWaves || System.nanoTime() < deadline) {
        waves += 1
        ver += 1
        val batch = docs.wave(addsPerWave, live.keys.toSeq)
        val deleted = batch.filter(_.text == null).map(_.id).toSet
        r.op(s"wave $ver") {
          val df = frame(spark, batch)
          r.settle()
          val (applied, wall) = r.time(t.span("streaming.wave")(appliedRows(IndexMaintenance.applyGatedUpserts(
            spark, Idx, Sig, df, ver = ver, buckets = Buckets,
            annRef = Some(ref), maintainChampions = Some(Champions)))))
          waveWalls += wall
          docsApplied += batch.size
          addsTried += addsPerWave
          addsAdmitted += applyDelta(batch, applied)
          bytesIngested += batch.map(u => Option(u.text).map(_.getBytes("UTF-8").length).getOrElse(0) +
            Option(u.vec).map(_.length * 4).getOrElse(0)).sum
          // one gate gates both stores: same live ids, deletes gone from both
          val (ann, bm25) = t.span("check.stores")((annIds(ref.get), bm25Ids(spark)))
          r.check(ann == bm25, s"ANN store has ${(ann -- bm25).size} ids the BM25 index lacks, " +
            s"and lacks ${(bm25 -- ann).size} it has")
          r.check(bm25 == live.keySet, s"stores hold ${bm25.size} live ids, the applied deltas ${live.size}")
          r.check((deleted & (ann ++ bm25)).isEmpty, s"deleted ids still stored: ${deleted & (ann ++ bm25)}")
          if (t.enabled) t.span("ann.dforest.describe") {
            val d = ref.get.describe().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
            r.layer("ann.dforest.bucket_rows", d("n_bucket_rows"), "count")
            r.layer("ann.dforest.max_bucket_rows", d("max_bucket_rows"), "count")
          }
        }
        for (_ <- 0 until servesPerWave) {
          val q = queries(qi % queries.length)
          val terms = docs.queryTerms().map(w => (qi.toLong, w)).toDF("query_id", "term")
          val qdf = Seq((qi.toLong, q)).toDF("query_id", "qvec")
          r.op("hybrid serve") {
            val t0 = System.nanoTime()
            val (ann, annS) = r.time(t.span("ann.dforest.serve")(
              Checks.rankedRows(ref.get.knnJoin(qdf, Checks.K))))
            val (bm25, bm25S) = r.time(t.span("bm25.serve")(
              Bm25.scoreIndexedTopKBatch(spark, Idx, terms, Checks.K)
                .select("doc_id", "bm25", "rank").collect()
                .map(x => (x.getLong(0), x.getDouble(1), x.getInt(2))).sortBy(_._3).toSeq))
            serveLat += (System.nanoTime() - t0) / 1e6
            annLat += annS * 1e3
            bm25Lat += bm25S * 1e3
            Checks.byQuery(r, ann).values.foreach(hits => Checks.topK(r, hits, q, vecOf))
            r.check(bm25.size <= Checks.K, s"${bm25.size} rows > k")
            r.check(bm25.map(_._3) == (1 to bm25.size), s"ranks ${bm25.map(_._3)}")
            bm25.sliding(2).foreach {
              case Seq(a, b) => r.check(math.round(a._2 * 1e4) >= math.round(b._2 * 1e4),
                s"bm25 not descending: $a before $b")
              case _ =>
            }
            bm25.foreach(x => r.check(live.contains(x._1), s"BM25 served a doc that is not live: ${x._1}"))
          }
          qi += 1
        }
      }
    }
    r.metric("upsert_docs_per_s", docsApplied / waveWalls.sum, "docs/s")
    r.metric("wave_p50_s", Stats.median(waveWalls.toSeq), "s")
    r.metric("wave_samples", waveWalls.size, "count")
    r.metric("serve_p50_ms", Stats.median(serveLat.toSeq), "ms")
    r.metric("serve_p95_ms", Stats.quantile(serveLat.toSeq, 0.95), "ms")
    r.metric("serve_samples", serveLat.size, "count")
    r.metric("ann_serve_p50_ms", Stats.median(annLat.toSeq), "ms")
    r.metric("bm25_serve_p50_ms", Stats.median(bm25Lat.toSeq), "ms")
    r.layer("streaming.admitted_ratio", addsAdmitted.toDouble / math.max(1L, addsTried), "ratio")
    r.layer("ann.dforest.planes", ref.get.planes.size, "count")
    r.layer("sinks.bytes_ingested", bytesIngested, "bytes")

    // recall@10 of the ANN store against exact k-NN over the live set
    t.span("phase:recall") {
      val liveDf = live.values.toSeq.map(u => (u.id, u.vec)).toDF("vec_id", "embedding").cache()
      val qdf = queries.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("query_id", "qvec")
      def ids(df: DataFrame) = Checks.rankedRows(df).groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._4).map(_._2) }
      r.metric("recall_at_10", Checks.recall(ids(ref.get.knnJoin(qdf, Checks.K)),
        ids(KnnExact.knnBatch(liveDf, qdf, Checks.K))), "ratio")
      liveDf.unpersist()
    }
    r.metric("index_mb", t.span("phase:index_size")(storeBytes(spark)) / 1e6, "MB")
  }
}
