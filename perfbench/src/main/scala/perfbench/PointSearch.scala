package perfbench

import scala.collection.mutable

import graft.ann.AnnForest

/** Reference Q1/Q2: build the driver-side forest and its CompactIndex on
  * a 300-dim corpus, then serve one closed-loop client that alternates
  * blocks of single `search` calls with `searchBatch` calls. Spark
  * shuffles nothing here.
  * Untimed warm-up calls of both kinds run first: the first calls pay
  * JIT compilation and the index broadcast, not the steady serve cost. */
object PointSearch {
  def run(r: Run): Unit = {
    val t = r.tracer
    val rows = if (r.args.tiny) 600 else 6000
    val nQueries = if (r.args.tiny) 200 else 4000
    val batchSize = if (r.args.tiny) 100 else 2000
    val minCalls = if (r.args.tiny) 200 else 2000
    val minBatches = 5
    val searchBlock = if (r.args.tiny) 40 else 250
    val mix = MixtureSpec(rows = rows, dim = 300, clusters = 40, zipfS = 1.1, dupShare = 0.02)
    val (_, (inputs, corpus, queryDf)) = r.setup(3) { spark =>
      val in = new Inputs(r.args.seed, mix)
      (in, Inputs.cached(spark, in.corpus.toSeq, "vec_id", "embedding"),
        Inputs.cached(spark, in.queries(nQueries).toSeq.take(batchSize), "query_id", "qvec"))
    }
    val queries = inputs.queries(nQueries)
    val vecOf: Long => Array[Float] = id => inputs.corpus.lift(id.toInt).orNull

    // build: fit, then the first `compact` touch (the lazy CompactIndex)
    r.settle()
    val (model, buildS) = r.time(t.span("phase:build") {
      val m = t.span("ann.forest.fit")(AnnForest(numTrees = 50, maxLeafSize = 5, seed = r.args.seed).fit(corpus))
      t.span("ann.forest.compact")(m.compact)
      m
    })
    r.metric("build_s", buildS, "s")

    def checkBatch(rowsOut: Seq[(Long, Long, Double, Int)]): Unit = {
      val got = Checks.byQuery(r, rowsOut)
      r.check(got.size == batchSize, s"searchBatch answered ${got.size} of $batchSize queries")
      got.foreach { case (qid, hits) => Checks.topK(r, hits, queries(qid.toInt), vecOf) }
    }

    // untimed warm-up, so the JIT has compiled the search path and the
    // first searchBatch has paid the broadcast before timing
    t.span("phase:warmup") {
      queries.take(1000).foreach(model.search(_, Checks.K))
      r.op("searchBatch warm-up")(checkBatch(Checks.rankedRows(model.searchBatch(queryDf, Checks.K))))
    }

    // one closed-loop client alternates blocks of single searches with
    // searchBatch calls over the first held-out queries for the whole
    // window, so both sample all of it (host contention comes in bursts)
    val lat = mutable.ArrayBuffer.empty[Double]
    val batchWalls = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (r.args.seconds * 1e9).toLong
    var i = 0
    var calls = 0
    r.settle()
    while (i < minCalls || calls < minBatches || System.nanoTime() < deadline) {
      t.span("phase:search") {
        for (_ <- 0 until searchBlock) {
          val q = queries(i % nQueries)
          r.op("search") {
            val t0 = System.nanoTime()
            val hits =
              if (t.enabled) {
                t.span("ann.forest.route")(model.compact.leafPaths(q))
                t.span("ann.forest.search")(model.search(q, Checks.K))
              } else model.search(q, Checks.K)
            lat += (System.nanoTime() - t0) / 1e6
            Checks.topK(r, hits.toSeq, q, vecOf)
          }
          i += 1
        }
      }
      t.span("phase:batch") {
        calls += 1
        r.op("searchBatch") {
          val (rowsOut, wall) = r.time(t.span("ann.forest.search_batch")(
            Checks.rankedRows(model.searchBatch(queryDf, Checks.K))))
          batchWalls += wall
          checkBatch(rowsOut)
        }
      }
    }
    r.metric("point_p50_ms", Stats.median(lat.toSeq), "ms")
    r.metric("point_p99_ms", Stats.quantile(lat.toSeq, 0.99), "ms")
    r.metric("point_samples", lat.size, "count")
    r.metric("batch_qps", batchSize / Stats.median(batchWalls.toSeq), "queries/s")
    r.metric("batch_samples", batchWalls.size, "count")

    // recall@10 against brute force over the same stored rows
    t.span("phase:recall") {
      val sample = 0 until math.min(300, nQueries)
      val approx = sample.map(i => i.toLong -> model.search(queries(i), Checks.K).map(_._1).toSeq).toMap
      val exact = sample.map(i => i.toLong -> model.compact.searchExact(queries(i), Checks.K).map(_._1).toSeq).toMap
      r.metric("recall_at_10", Checks.recall(approx, exact), "ratio")
    }

    val bytes = t.span("phase:index_size")(Layers.serializedBytes(model.compact))
    r.metric("index_mb", bytes / 1e6, "MB")
    r.layer("ann.forest.index_bytes", bytes, "bytes")
    r.layer("ann.forest.planes", model.compact.planeConst.length, "count")
  }
}
