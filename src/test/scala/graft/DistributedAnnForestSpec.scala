package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ann._
import graft.operators.KnnExact
import graft.sources.Tables

class DistributedAnnForestSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sf0001).cache()
  lazy val model = DistributedAnnForest(numTrees = 50, maxLeafSize = 5, maxDepth = 16, seed = 42L)
    .fit(emb, "vec_id", "embedding")

  test("build is deterministic: two fits route the corpus identically") {
    val m2 = DistributedAnnForest(numTrees = 50, maxLeafSize = 5, maxDepth = 16, seed = 42L)
      .fit(emb, "vec_id", "embedding")
    val b1 = model.corpusBuckets.select("neighbor_id", "tree_id", "leaf_id")
      .as[(Long, Int, Long)].collect().toSet
    val b2 = m2.corpusBuckets.select("neighbor_id", "tree_id", "leaf_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(b1 === b2)
    assert(model.planes.keySet === m2.planes.keySet)
  }

  test("every corpus row lands in exactly one leaf per tree") {
    val perTree = model.corpusBuckets.groupBy("neighbor_id")
      .agg(count(lit(1)).as("n"), count_distinct(col("tree_id")).as("nt"))
      .as[(Long, Long, Long)].collect()
    val n = emb.count()
    assert(perTree.length === n)
    perTree.foreach { case (_, cnt, nt) => assert(cnt === 50L && nt === 50L) }
  }

  test("plane count is bounded and leaves respect the routing walk") {
    // depth cap → planes ≤ trees · 2^maxDepth; fixture is far below that
    assert(model.planes.size < 50 * (1 << 16))
    // a routed corpus leaf must never itself be an inner node
    val leafKeys = model.corpusBuckets.select("tree_id", "leaf_id")
      .distinct().as[(Int, Long)].collect()
    leafKeys.foreach { k => assert(!model.planes.contains(k)) }
  }

  /** Hex SHA-256 of `lines`, one per line. */
  private def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def rawBits(v: Iterable[Float]): String =
    v.map(f => Integer.toHexString(java.lang.Float.floatToRawIntBits(f))).mkString(",")

  /** Every plane (key, raw coefficient and constant bits) in key order,
    * then every bucket row (tree, leaf, id, raw vector bits) sorted. */
  private def storeDigests(m: DistributedAnnModel): (String, String) = (
    digest(m.planes.toSeq.sortBy(_._1).iterator.map { case ((t, p), pl) =>
      s"$t $p ${rawBits(pl.coefficients)} ${rawBits(Seq(pl.constant))}" }),
    digest(m.corpusBuckets.select("tree_id", "leaf_id", "neighbor_id", "__cvec")
      .as[(Int, Long, Long, Seq[Float])].collect()
      .sortBy(r => (r._1, r._2, r._3)).iterator
      .map { case (t, l, id, v) => s"$t $l $id ${rawBits(v)}" }))

  test("routing pin: planes, buckets, assignLeaves and compactBuckets are bit-identical") {
    // corpus points and deterministic ±0.03-per-dim perturbations of
    // them (pure arithmetic, no transcendental functions)
    val queries = emb.select($"vec_id".as("query_id"), $"embedding".as("qvec"))
      .unionByName(emb.select(($"vec_id" + 100000L).as("query_id"),
        transform($"embedding", (x, i) =>
          x + ((($"vec_id" * 31 + i) % 7) - 3) * 0.01).cast("array<float>").as("qvec")))
    def routed(m: DistributedAnnModel, eps: Double, cap: Int): (Long, String) = {
      val rows = m.assignLeaves(queries, spillEps = eps, maxLeavesPerTree = cap)
        .select("query_id", "tree_id", "leaf_id").as[(Long, Int, Long)].collect().sorted
      (rows.length.toLong, digest(rows.iterator.map { case (q, t, l) => s"$q $t $l" }))
    }
    val cos = DistributedAnnForest(numTrees = 10, maxLeafSize = 5, seed = 7L, metric = "cosine")
      .fit(emb, "vec_id", "embedding")
    val got = Seq(
      "euclidean" -> model, "cosine" -> cos, "compacted" -> model.compactBuckets(8))
      .flatMap { case (name, m) =>
        val (planes, buckets) = storeDigests(m)
        Seq(s"$name planes" -> planes, s"$name buckets" -> buckets) ++
          (if (name == "compacted") Nil else {
            val (n0, single) = routed(m, 0.0, 4)
            val (n1, cap1) = routed(m, 0.25, 1)
            val (n4, cap4) = routed(m, 0.25, 4)
            // the spill pin only bites if spilling reaches extra leaves
            assert(n0 === 2 * emb.count() * m.numTrees && n1 === n0 && n4 > n0)
            Seq(s"$name route eps 0" -> single, s"$name route eps 0.25 cap 1" -> cap1,
              s"$name route eps 0.25 cap 4" -> cap4)
          })
      }
    val want = Seq(
      "euclidean planes" ->
        "4ab06f1a6ee5eda35d066a2e0a0b808e84d3413223552b8b0c78fbe918c84fd9",
      "euclidean buckets" ->
        "d1a046b28b60a3dad6b2a22c7f639cae2a9406ccfaf4c86e6bf57a20547e2c97",
      "euclidean route eps 0" ->
        "2c8190a07965b7b03386fecddce6cf99e94c742ec072f52e922e3f98cd4a4592",
      "euclidean route eps 0.25 cap 1" ->
        "2c8190a07965b7b03386fecddce6cf99e94c742ec072f52e922e3f98cd4a4592",
      "euclidean route eps 0.25 cap 4" ->
        "a094000cda132dc7f5f8f93dc2b813377303c04347ec9c57e96c8812bb61fba0",
      "cosine planes" ->
        "ad7a0d2e27b084711401287e9b39f5c1396ce48fbadc28f934e22977e08bdcbf",
      "cosine buckets" ->
        "370caac5e0a9071adc41d420eb6ab1e6bb5a8be3c76afb3be5968b2b62fa714c",
      "cosine route eps 0" ->
        "528908927309ed1cacf475bfcfd177de2e5f1260d921158424444ff78321e76c",
      "cosine route eps 0.25 cap 1" ->
        "528908927309ed1cacf475bfcfd177de2e5f1260d921158424444ff78321e76c",
      "cosine route eps 0.25 cap 4" ->
        "9332fb3cbb6f1afbd642bdb3be7c462f9ecb7f3b9c1fc8dc2e87eb54fb6bd1d0",
      "compacted planes" ->
        "a3035c60c6c3b273ad626ac423783804cf84a1c60135976d74594faaf1ab0272",
      "compacted buckets" ->
        "bd6075306cd3340b31309c8e6857763aa307894e4713900d00866e0548acaa0d")
    assert(got === want)
  }

  test("knnJoin: rank-1 self match and recall floor vs exact oracle") {
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val got = model.knnJoin(queries, topK = 10).cache()
    val r1 = got.filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    r1.foreach { case (q, n) => assert(q === n) }
    val exact = KnnExact.knnBatch(emb, queries, 10)
      .groupBy("query_id").agg(collect_set("neighbor_id").as("truth"))
      .as[(Long, Seq[Long])].collect().toMap
    val approx = got.groupBy("query_id").agg(collect_set("neighbor_id").as("got"))
      .as[(Long, Seq[Long])].collect().toMap
    val recalls = exact.map { case (q, t) =>
      approx.getOrElse(q, Seq.empty).toSet.intersect(t.toSet).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    info(f"distributed-forest mean recall@10 (50 trees) = $mean%.3f")
    assert(mean >= 0.6)
  }

  test("knnSelfJoin is result-identical to knnJoin with the corpus as queries") {
    val asQueries = emb.select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val twoSided = model.knnJoin(asQueries, topK = 10)
      .select("query_id", "neighbor_id", "dist", "rank")
    val selfJoin = model.knnSelfJoin(topK = 10)
      .select("query_id", "neighbor_id", "dist", "rank")
    assert(twoSided.exceptAll(selfJoin).count() === 0)
    assert(selfJoin.exceptAll(twoSided).count() === 0)
    // the self pair always exists, so every query's rank-1 distance is 0
    assert(selfJoin.filter($"rank" === 1 && $"dist" === 0f).count() === emb.count())
  }

  test("knnSelfJoin queries the dedup'd STORE: duplicate ids don't reappear") {
    // the fixture has no exact duplicates (which is why the identity
    // test above can use the raw corpus) — build a duped corpus to pin
    // the documented semantics: fit() dedups, so the self-join's query
    // set is the store's (first-seen) ids, not the raw corpus ids
    val base = emb.filter($"vec_id" < 20).select($"vec_id", $"embedding")
    val dups = base.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val duped = base.unionByName(dups)
    val m = DistributedAnnForest(numTrees = 8, maxLeafSize = 3, maxDepth = 10, seed = 3L)
      .fit(duped, "vec_id", "embedding")
    val queryIds = m.knnSelfJoin(topK = 3)
      .select("query_id").distinct().as[Long].collect().toSet
    val storeIds = m.corpusBuckets
      .select("neighbor_id").distinct().as[Long].collect().toSet
    assert(queryIds === storeIds)
    // first-seen-wins: the originals survive, the +1000 copies don't
    assert(queryIds === (0L until 20L).toSet)
    // and the raw-coverage path still answers for a duplicate id
    val dupQuery = duped.filter($"vec_id" === 1000L)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    assert(m.knnJoin(dupQuery, topK = 3).count() > 0)
  }

  test("save/load roundtrip preserves the k-NN join result") {
    val dir = java.nio.file.Files.createTempDirectory("dist_ann_model").toString
    model.save(dir)
    val loaded = DistributedAnnModel.load(dir, spark)
    assert(loaded.numTrees === model.numTrees && loaded.metric === model.metric)
    // HyperPlane holds Arrays (reference equality) — compare contents
    assert(loaded.planes.keySet === model.planes.keySet)
    model.planes.foreach { case (k, pl) =>
      assert(loaded.planes(k).constant === pl.constant)
      assert(loaded.planes(k).coefficients.sameElements(pl.coefficients))
    }
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val a = model.knnJoin(queries, topK = 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val b = loaded.knnJoin(queries, topK = 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(a === b)

    // tree_id is a parquet PARTITION column: with type inference off it
    // would read back STRING; load() must cast it so the restored schema
    // matches fit()'s output regardless of session config
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val loaded2 = DistributedAnnModel.load(dir, spark)
      val schema = loaded2.corpusBuckets.schema
      assert(schema("tree_id").dataType === org.apache.spark.sql.types.IntegerType)
      assert(schema("leaf_id").dataType === org.apache.spark.sql.types.LongType)
      val c = loaded2.knnJoin(queries, topK = 5)
        .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
      assert(a === c)
    } finally spark.conf.set(key, prev)
  }

  test("append routes new vectors through frozen planes; they become findable") {
    val old = emb.filter(col("vec_id") < 400)
    val add = emb.filter(col("vec_id") >= 400)
    val base = DistributedAnnForest(numTrees = 20, maxLeafSize = 5, maxDepth = 16, seed = 42L)
      .fit(old, "vec_id", "embedding")
    val grown = base.append(add, "vec_id", "embedding")
    // every appended row lands in exactly one leaf per tree
    val perTree = grown.corpusBuckets.filter(col("neighbor_id") >= 400)
      .groupBy("neighbor_id")
      .agg(count(lit(1)).as("n"), count_distinct(col("tree_id")).as("nt"))
      .as[(Long, Long, Long)].collect()
    assert(perTree.length === add.count().toInt)
    assert(perTree.forall { case (_, n, nt) => n === 20L && nt === 20L })
    // an appended vector is rank-1 findable (self match, dist 0)
    val q = add.limit(5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val top1 = grown.knnJoin(q, topK = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (a, b) => a === b })
    // old-corpus routing is untouched: planes identical, old buckets equal
    val oldBuckets = base.corpusBuckets
      .select("neighbor_id", "tree_id", "leaf_id").as[(Long, Int, Long)].collect().toSet
    val grownOld = grown.corpusBuckets.filter(col("neighbor_id") < 400)
      .select("neighbor_id", "tree_id", "leaf_id").as[(Long, Int, Long)].collect().toSet
    assert(grownOld === oldBuckets)
  }

  test("append under cosine: stored vectors are normalized like fit()'s store") {
    val old = emb.filter(col("vec_id") < 400)
    val add = emb.filter(col("vec_id") >= 400)
    val base = DistributedAnnForest(
      numTrees = 10, maxLeafSize = 5, maxDepth = 16, seed = 42L, metric = "cosine")
      .fit(old, "vec_id", "embedding")
    val grown = base.append(add, "vec_id", "embedding")
    // appended rows must carry unit-norm stored vectors (fit-parity)
    val norms = grown.corpusBuckets.filter(col("neighbor_id") >= 400)
      .select(graft.functions.VectorFunctions.dot(col("__cvec"), col("__cvec")).as("n2"))
      .as[Double].collect()
    assert(norms.nonEmpty && norms.forall(n => math.abs(n - 1.0) < 1e-3))
    // and the appended vector is its own nearest neighbor under cosine
    val q = add.limit(5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val top1 = grown.knnJoin(q, topK = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (a, b) => a === b })
  }

  test("streaming ingest: foreachBatch appends micro-batches into the saved bucket table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val old = emb.filter(col("vec_id") < 400)
    val add = emb.filter(col("vec_id") >= 400)
    val base = DistributedAnnForest(numTrees = 10, maxLeafSize = 5, maxDepth = 16, seed = 42L)
      .fit(old, "vec_id", "embedding")
    base.save(dir)

    // stream the new vectors in and route each micro-batch straight
    // into the persisted bucket table
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ingest_src").toString
    add.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        base.routeForStore(batch, "vec_id", "embedding")
          .write.mode("append").partitionBy("tree_id").parquet(s"$dir/buckets")
      }
      .option("checkpointLocation", s"$srcDir/_cp").start()
    q.processAllAvailable(); q.stop()

    // a fresh load serves old + streamed rows alike
    val loaded = DistributedAnnModel.load(dir, spark)
    assert(loaded.corpusBuckets.count() === emb.count() * 10)
    val queries = emb.filter(col("vec_id") >= 400).limit(5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val top1 = loaded.knnJoin(queries, topK = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (a, b) => a === b })
  }

  test("ANN batch search runs unchanged under Structured Streaming") {
    // the broadcast-index search is a narrow mapPartitions — the same
    // code must run on a readStream of queries (100 TB story: standing
    // index + streaming query feed)
    val bModel = AnnForest(numTrees = 10, maxLeafSize = 5, seed = 42L)
      .fit(emb, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ann_stream_q").toString
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    queries.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(queries.schema).parquet(dir)
    val out = bModel.searchBatch(stream, topK = 5)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ann_stream_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ann_stream_out")
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val batch = bModel.searchBatch(queries, topK = 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("radiusJoin on the standing buckets: exact subset, recall floor, filter respected") {
    val r2 = 1.2535 // q82's threshold
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val exact = KnnExact.radiusJoin(emb, queries, r2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = model.radiusJoin(queries, r2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact), "standing-bucket radius must never invent a pair")
    val rec = got.size.toDouble / exact.size
    info(f"standing-bucket radius recall = $rec%.3f (${got.size}/${exact.size})")
    assert(rec >= 0.7, f"radius recall $rec%.3f below floor")
    // corpusFilter over the bucket columns composes with the radius tail
    val even = model.radiusJoin(queries, r2,
      corpusFilter = Some($"neighbor_id" % 2 === 0))
      .select("neighbor_id").as[Long].collect()
    assert(even.nonEmpty && even.forall(_ % 2 == 0))
  }

  test("zone maps: pruning is sound (identical results) and actually drops probes") {
    import graft.functions.VectorFunctions.sqEucDist
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    // soundness: the zone-mapped result equals the unpruned result at
    // every radius — pruning may only remove provably-empty probes
    for (r2 <- Seq(1.2535, 0.3, 0.1)) {
      val plain = model.radiusJoin(queries, r2, querySpillEps = 0.25)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val zoned = model.radiusJoin(queries, r2, querySpillEps = 0.25,
          useZoneMaps = true)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      assert(zoned === plain, s"zone maps changed the result at maxDist=$r2")
    }
    // the maps are real bounds: every bucket member is inside
    // centroid ± cov (construction), and pruning removes probes
    val probes = model.assignLeaves(queries, spillEps = 0.25, maxLeavesPerTree = 4)
      .join(model.zoneMaps, Seq("tree_id", "leaf_id"))
    val total = probes.count()
    val kept = probes.filter(
      sqrt(sqEucDist($"__qv", $"__centroid")) - $"__cov" <=
        lit(math.sqrt(0.1) + 1e-5)).count()
    assert(kept < total, s"no probes pruned at maxDist=0.1 ($kept of $total)")
    // covering radius really covers: max member distance <= cov (+slack)
    val viol = model.corpusBuckets
      .join(model.zoneMaps, Seq("tree_id", "leaf_id"))
      .filter(sqrt(sqEucDist($"__cvec", $"__centroid")) > $"__cov" + lit(1e-6))
      .count()
    assert(viol === 0L, s"$viol bucket members outside their covering radius")
    // persisted standing layout: save(withZoneMaps) → load serves the
    // identical zone-mapped radius result from the stored maps
    val dir = java.nio.file.Files.createTempDirectory("graft_zm").toString
    model.save(dir, withZoneMaps = true)
    val loaded = DistributedAnnModel.load(dir, spark)
    val fromStored = loaded.radiusJoin(queries, 0.3, querySpillEps = 0.25,
        useZoneMaps = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val fresh = model.radiusJoin(queries, 0.3, querySpillEps = 0.25,
        useZoneMaps = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(fromStored === fresh)
  }

  test("remove: deleted ids vanish from serving, survive save/load, delete→append roundtrips") {
    val victims = Seq(3L, 7L)
    val removed = model.remove(victims.toDF("vec_id"))
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    // gone as neighbors (including their own rank-1 self match)…
    val got = removed.knnJoin(queries, topK = 10)
    assert(got.filter($"neighbor_id".isin(victims: _*)).count() === 0)
    assert(got.select("query_id").distinct().count() === 20) // …but they still query
    // self-join: gone on BOTH sides (one table plays both roles)
    val sj = removed.knnSelfJoin(topK = 5)
    assert(sj.filter(
      $"query_id".isin(victims: _*) || $"neighbor_id".isin(victims: _*)).count() === 0)
    // save physically compacts: tombstoned rows are not written
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString
    removed.save(dir)
    val loaded = DistributedAnnModel.load(dir, spark)
    assert(loaded.corpusBuckets.filter($"neighbor_id".isin(victims: _*)).count() === 0)
    assert(loaded.corpusBuckets.count() === removed.corpusBuckets.count())
    assert(loaded.knnJoin(queries, topK = 10)
      .filter($"neighbor_id".isin(victims: _*)).count() === 0)
    // delete → append the SAME id with a new vector: fresh row serves
    // (the anti-join is folded below the union, not a standing filter)
    val newVec = Array.fill(64)(0.5f)
    val re = removed.append(Seq((3L, newVec)).toDF("vec_id", "embedding"))
    val hit = re.knnJoin(
      Seq((999L, newVec)).toDF("query_id", "qvec"), topK = 1)
    assert(hit.select("neighbor_id").as[Long].head() === 3L)
    // compact() is serve-equivalent, just with the plan layers collapsed
    val a = removed.knnJoin(queries, 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val b = removed.compact().knnJoin(queries, 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(a === b)
  }

  test("query-side spill raises standing-index recall; bucket table untouched") {
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val truth = KnnExact.knnBatch(emb, queries, 10)
      .groupBy("query_id").agg(collect_set("neighbor_id").as("t"))
      .as[(Long, Seq[Long])].collect().toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.groupBy("query_id").agg(collect_set("neighbor_id").as("g"))
        .as[(Long, Seq[Long])].collect().toMap
      truth.map { case (q, t) =>
        got.getOrElse(q, Seq.empty).toSet.intersect(t.toSet).size.toDouble / t.size
      }.sum / truth.size
    }
    val r0 = recallOf(model.knnJoin(queries, topK = 10))
    val r1 = recallOf(model.knnJoin(queries, topK = 10, querySpillEps = 0.25))
    info(f"standing-index recall@10: eps=0 $r0%.3f, eps=0.25 $r1%.3f")
    assert(r1 >= r0, "spill candidates are a superset — recall must not drop")
    assert(r1 >= 0.9, f"spill recall $r1%.3f below floor") // measured 0.84 -> ~0.98
  }

  test("serving loop: streaming query batches through foreachBatch, filter + top-k per batch") {
    // the online-serving shape: a standing bucket table + a query
    // STREAM, each micro-batch answered by the same knnJoin plan the
    // batch path runs (batch ≡ stream, one codepath) — with the
    // attribute filter composing unchanged
    val srcDir = java.nio.file.Files.createTempDirectory("graft_serve_src").toString
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    queries.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        model.knnJoin(batch, topK = 5,
            corpusFilter = Some(col("neighbor_id") % 2 === 0))
          .select("query_id", "neighbor_id", "rank").collect()
          .foreach(r => acc.add((r.getLong(0), r.getLong(1), r.getInt(2))))
      }
      .option("checkpointLocation", s"$srcDir/_cp").start()
    q.processAllAvailable(); q.stop()
    val streamed = { import scala.jdk.CollectionConverters._; acc.asScala.toSet }
    val batchRes = model.knnJoin(queries, topK = 5,
        corpusFilter = Some(col("neighbor_id") % 2 === 0))
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed === batchRes)
    assert(streamed.nonEmpty && streamed.forall(_._2 % 2 == 0))
  }

  test("cosine metric: distances are 2(1-cos) on the unit sphere") {
    val m = DistributedAnnForest(numTrees = 10, maxLeafSize = 5, seed = 7L, metric = "cosine")
      .fit(emb, "vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val got = m.knnJoin(queries, topK = 5).collect()
    assert(got.nonEmpty)
    // self match at distance ~0, all distances within [0, 4]
    got.filter(r => r.getInt(r.fieldIndex("rank")) == 1).foreach { r =>
      assert(r.getLong(r.fieldIndex("query_id")) === r.getLong(r.fieldIndex("neighbor_id")))
      assert(math.abs(r.getDouble(r.fieldIndex("dist"))) < 1e-9)
    }
    got.foreach(r => assert(r.getDouble(r.fieldIndex("dist")) >= 0.0
      && r.getDouble(r.fieldIndex("dist")) <= 4.0 + 1e-9))
  }

  test("describe reports store geometry; remove shrinks it consistently") {
    val n = emb.count()
    val m = DistributedAnnForest(numTrees = 8, maxLeafSize = 10,
      maxDepth = 12, seed = 42L).fit(emb, "vec_id", "embedding")
    def stats(mm: DistributedAnnModel) = mm.describe().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s0 = stats(m)
    assert(s0("n_vectors") === n)
    assert(s0("n_trees") === 8L)
    assert(s0("n_bucket_rows") === n * 8, "each vector lands in one leaf per tree")
    assert(s0("max_bucket_rows") >= s0("n_bucket_rows") / s0("n_buckets"),
      "max is at least the mean")
    val s1 = stats(m.remove(emb.filter($"vec_id" < 10).select($"vec_id")))
    assert(s1("n_vectors") === n - 10)
    assert(s1("n_bucket_rows") === (n - 10) * 8)
  }

  test("compactBuckets: merges only under-occupied sibling pairs; routing matches storage") {
    val m = DistributedAnnForest(numTrees = 4, maxLeafSize = 5,
      maxDepth = 12, seed = 42L).fit(emb, "vec_id", "embedding")
    val c = m.compactBuckets(minBucketRows = 8)
    // planes only ever get REMOVED, and with them bucket count drops
    assert(c.planes.size < m.planes.size)
    assert(c.planes.keySet.subsetOf(m.planes.keySet))
    c.planes.foreach { case (k, pl) => assert(m.planes(k) === pl) }
    val sizesOf = (mm: DistributedAnnModel) => mm.corpusBuckets
      .groupBy($"tree_id", $"leaf_id").count().collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val before = sizesOf(m); val after = sizesOf(c)
    assert(after.size < before.size, "fewer buckets")
    assert(after.values.sum === before.values.sum, "no row lost or duplicated")
    // every merged bucket is exactly the union of the leaves below it,
    // and no merged bucket could have been left split (size < threshold)
    after.foreach { case ((t, p), sz) =>
      if (!before.contains((t, p))) assert(sz < 8, s"merged ($t,$p) must be under-occupied")
    }
    // storage and routing agree after compaction: re-routing the corpus
    // through the compacted plane map reproduces the bucket table
    val rerouted = c.assignLeaves(emb, "vec_id", "embedding")
      .groupBy($"tree_id", $"leaf_id").count().collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rerouted === after)
    // candidate sets only grow ⇒ knn distances monotonically improve
    val q = emb.filter($"vec_id" < 30)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val dB = m.knnJoin(q, topK = 3).groupBy($"query_id")
      .agg(sum($"dist").as("s")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dA = c.knnJoin(q, topK = 3).groupBy($"query_id")
      .agg(sum($"dist").as("s")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    dB.foreach { case (qid, s) => assert(dA(qid) <= s + 1e-9, s"query $qid") }
  }

  test("compactStore: physical purge + marker discipline (torn compaction refuses to load)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dann_compact").toString + "/store"
    val m = DistributedAnnForest(numTrees = 4, maxLeafSize = 5,
      maxDepth = 12, seed = 42L).fit(emb, "vec_id", "embedding")
    m.save(dir, withZoneMaps = true)
    val gone = emb.filter($"vec_id" % 7 === 0).select($"vec_id")
    DistributedAnnModel.compactStore(spark, dir, minBucketRows = 8,
      tombstones = Some(gone))
    val re = DistributedAnnModel.load(dir, spark)
    // tombstones are physically gone from the rewritten parquet
    val left = re.corpusBuckets.join(
      gone.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"), "left_semi").count()
    assert(left === 0L)
    // zone maps were rebuilt for the new bucket table (not stale):
    // every (tree, leaf) in the maps exists in the compacted buckets
    val zmKeys = re.zoneMaps.select($"tree_id", $"leaf_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    val bKeys = re.corpusBuckets.select($"tree_id", $"leaf_id").distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(zmKeys === bKeys)
    // a leftover marker (crash mid-rewrite) makes load AND compactStore refuse
    val marker = new org.apache.hadoop.fs.Path(dir, "__compacting")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
    intercept[IllegalArgumentException] { DistributedAnnModel.load(dir, spark) }
    intercept[IllegalArgumentException] {
      DistributedAnnModel.compactStore(spark, dir, minBucketRows = 8)
    }
    fs.delete(marker, false)
    assert(DistributedAnnModel.load(dir, spark).corpusBuckets.count() > 0)
  }

  test("an unknown metric is rejected at construction") {
    val e = intercept[IllegalArgumentException](DistributedAnnForest(metric = "manhattan"))
    assert(e.getMessage.contains("metric must be euclidean|cosine, got manhattan"))
  }

  private lazy val small = DistributedAnnForest(numTrees = 4, maxLeafSize = 5,
    maxDepth = 12, seed = 42L).fit(emb, "vec_id", "embedding")

  /** Each routing entry point, run to completion on a (vec_id, embedding) frame. */
  private val routingEntries: Seq[(String, DataFrame => Unit)] = Seq(
    "knnJoin" -> (df => small.knnJoin(df, topK = 3, "vec_id", "embedding").collect()),
    "radiusJoin" -> (df => small.radiusJoin(df, maxDist = 1.0, "vec_id", "embedding").collect()),
    "append" -> (df => small.append(df).corpusBuckets.collect()),
    "routeForStore" -> (df => small.routeForStore(df).collect()))

  for ((entry, run) <- routingEntries) {
    test(s"$entry rejects null and wrong-length vectors by name") {
      val dim = small.planes.head._2.coefficients.length
      Seq(Array.fill(dim + 1)(0f) -> s"vector has ${dim + 1} dims, the planes have $dim",
          Array.fill(dim - 1)(0f) -> s"vector has ${dim - 1} dims, the planes have $dim",
          (null: Array[Float]) -> "vector is null").foreach { case (v, why) =>
        val e = intercept[Exception](run(Seq(1L -> v).toDF("vec_id", "embedding")))
        assert(messages(e).contains(s"DistributedAnnModel routing: $why"), messages(e))
      }
    }
  }

  test("fit rejects vectors of different lengths by name") {
    Seq(65 -> 1000001L, 63 -> 1000002L).foreach { case (d, id) =>
      val odd = Seq(id -> Array.fill(d)(0.5f)).toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException](
        DistributedAnnForest(numTrees = 2, maxLeafSize = 5, seed = 1L)
          .fit(emb.select("vec_id", "embedding").unionByName(odd)))
      assert(e.getMessage.contains(s"embedding: row $id has $d dims, expected 64"), e.getMessage)
    }
  }

  test("a model with no planes routes any vector to each tree's root leaf") {
    val m = DistributedAnnForest(numTrees = 3, maxLeafSize = 5, seed = 1L)
      .fit(Seq(1L -> Array(1f, 2f), 2L -> Array(3f, 4f)).toDF("vec_id", "embedding"))
    assert(m.planes.isEmpty)
    val routed = m.assignLeaves(
      Seq(7L -> Array(1f), 8L -> Array(1f, 2f, 3f)).toDF("query_id", "qvec"))
      .select("query_id", "tree_id", "leaf_id").as[(Long, Int, Long)].collect().toSet
    assert(routed === (for (q <- Set(7L, 8L); t <- 0 until 3) yield (q, t, 1L)))
  }
}
