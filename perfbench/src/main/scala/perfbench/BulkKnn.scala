package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.ann.AnnForest
import graft.operators.KnnExact

/** Reference Q4: fit the forest on a 64-dim corpus, then the bucketed
  * k-NN self-join over the whole corpus and the two-sided bucketed join
  * of a held-out query batch, after one untimed round of each, in timed
  * rounds of one self-join and two bucket joins until the run ends. The
  * routing UDF, the bucket shuffle and the TopKPerKey tail do the work;
  * `CompactIndex.search` is never called. */
object BulkKnn {
  def run(r: Run): Unit = {
    val t = r.tracer
    val rows = if (r.args.tiny) 800 else 6000
    val nQueries = if (r.args.tiny) 100 else 500
    val mix = MixtureSpec(rows = rows, dim = 64, clusters = 32, zipfS = 1.1, dupShare = 0.02)
    val (_, (inputs, corpus, queryDf)) = r.setup(3) { spark =>
      val in = new Inputs(r.args.seed, mix)
      (in, Inputs.cached(spark, in.corpus.toSeq, "vec_id", "embedding"),
        Inputs.cached(spark, in.queries(nQueries).toSeq, "query_id", "qvec"))
    }
    val queries = inputs.queries(nQueries)
    val vecOf: Long => Array[Float] = id => inputs.corpus.lift(id.toInt).orNull

    // build: fit, then the CompactIndex that routing strips to planes;
    // five builds (one build is under a second), the median reported,
    // the last one served
    var model: graft.ann.AnnForestModel = null
    val buildWalls = t.span("phase:build")(Seq.fill(5) {
      model = null // the previous build is garbage before the next starts
      r.settle()
      r.time {
        model = t.span("ann.forest.fit")(AnnForest(numTrees = 50, maxLeafSize = 5, seed = r.args.seed).fit(corpus))
        t.span("ann.forest.compact")(model.compact)
      }._2
    })
    r.metric("build_s", Stats.median(buildWalls), "s")

    def checkSelf(out: Seq[(Long, Long, Double, Int)]): Map[Long, Seq[(Long, Double)]] = {
      val got = Checks.byQuery(r, out)
      r.check(got.size == rows, s"self-join answered ${got.size} of $rows corpus rows")
      got.foreach { case (qid, hits) => Checks.topK(r, hits, vecOf(qid), vecOf) }
      got
    }
    def checkJoin(out: Seq[(Long, Long, Double, Int)]): Unit = {
      val got = Checks.byQuery(r, out)
      r.check(got.size == nQueries, s"bucket join answered ${got.size} of $nQueries queries")
      got.foreach { case (qid, hits) => Checks.topK(r, hits, queries(qid.toInt), vecOf) }
    }
    def selfJoin() = Checks.rankedRows(model.knnSelfJoinBucketed(corpus, Checks.K))
    def bucketJoin() = Checks.rankedRows(model.knnJoinBucketed(corpus, queryDf, Checks.K))

    // one untimed, checked round first: the first joins pay code
    // generation and JIT compilation, not the steady join cost
    t.span("phase:warmup") {
      r.op("knnSelfJoinBucketed warm-up")(checkSelf(selfJoin()))
      r.op("knnJoinBucketed warm-up")(checkJoin(bucketJoin()))
    }

    // timed rounds of one self-join and two bucket joins
    val selfWalls = mutable.ArrayBuffer.empty[Double]
    val joinWalls = mutable.ArrayBuffer.empty[Double]
    var lastSelf: Map[Long, Seq[(Long, Double)]] = Map.empty
    val deadline = System.nanoTime() + (r.args.seconds * 1e9).toLong
    var rounds = 0
    t.span("phase:joins") {
      while (rounds < 3 || System.nanoTime() < deadline) {
        rounds += 1
        r.settle()
        r.op("knnSelfJoinBucketed") {
          val (out, wall) = r.time(t.span("ann.forest.self_join")(selfJoin()))
          selfWalls += wall
          lastSelf = checkSelf(out)
        }
        for (_ <- 0 until 2) r.op("knnJoinBucketed") {
          val (out, wall) = r.time(t.span("ann.forest.bucket_join")(bucketJoin()))
          joinWalls += wall
          checkJoin(out)
        }
      }
    }
    r.metric("selfjoin_vps", rows / Stats.median(selfWalls.toSeq), "vectors/s")
    r.metric("bucket_join_qps", nQueries / Stats.median(joinWalls.toSeq), "queries/s")
    r.metric("bucket_join_p50_ms", Stats.median(joinWalls.toSeq) * 1e3, "ms")
    r.metric("selfjoin_samples", selfWalls.size, "count")
    r.metric("join_samples", joinWalls.size, "count")

    // recall@10 of the self-join against exact k-NN for 300 corpus rows
    t.span("phase:recall") {
      val sampleIds = (0L until rows.toLong by math.max(1L, rows / 300L)).toSet
      val exact = Checks.rankedRows(KnnExact.knnBatch(corpus,
          corpus.filter(col("vec_id").isin(sampleIds.toSeq: _*))
            .select(col("vec_id").as("query_id"), col("embedding").as("qvec")), Checks.K))
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._4).map(_._2) }
      val approx = lastSelf.filter { case (q, _) => sampleIds(q) }.map { case (q, hs) => q -> hs.map(_._1) }
      r.metric("recall_at_10", Checks.recall(approx, exact), "ratio")
    }

    val bytes = t.span("phase:index_size")(Layers.serializedBytes(model.compact))
    r.metric("index_mb", bytes / 1e6, "MB")
    r.layer("ann.forest.index_bytes", bytes, "bytes")
    r.layer("ann.forest.planes", model.compact.planeConst.length, "count")

    if (t.enabled) t.span("phase:buckets") {
      // the bucket table both joins build: (tree, leaf) occupancy
      val routed = t.span("ann.forest.assign_leaves") {
        model.assignLeaves(corpus).groupBy("tree_id", "leaf_id").count().collect().map(_.getLong(2))
      }
      val pairs = routed.map(m => m.toDouble * m).sum
      r.layer("ann.bucket.pairs_scored", pairs, "count")
      r.layer("ann.bucket.useful_ratio", lastSelf.valuesIterator.map(_.size).sum / pairs, "ratio")
      r.layer("ann.bucket.max_rows", routed.max.toDouble, "count")
    }
  }
}
