package graft

import org.apache.spark.sql.functions._
import graft.ann._
import graft.operators.KnnExact
import graft.sources.Tables

class AnnForestSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sf0001).cache()
  lazy val model = AnnForest(numTrees = 50, maxLeafSize = 5, seed = 42L)
    .fit(emb, "vec_id", "embedding")

  /** Hex SHA-256 of what `body` writes. */
  private def sha256(body: java.io.DataOutputStream => Unit): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val out = new java.io.DataOutputStream(new java.security.DigestOutputStream(
      java.io.OutputStream.nullOutputStream(), md))
    body(out)
    out.flush()
    md.digest().map(b => f"$b%02x").mkString
  }

  /** SHA-256 over every layout array of `c`, floats as raw bits — pins
    * the builder's output bit for bit. */
  private def layoutDigest(c: CompactIndex): String = sha256 { out =>
    def ints(a: Array[Int]): Unit = { out.writeInt(a.length); a.foreach(out.writeInt) }
    def floats(a: Array[Float]): Unit = {
      out.writeInt(a.length); a.foreach(f => out.writeInt(java.lang.Float.floatToRawIntBits(f)))
    }
    ints(c.roots); ints(c.left); ints(c.right); ints(c.planeIdx)
    floats(c.planeCoef); floats(c.planeConst)
    ints(c.leafOff); ints(c.leafLen); ints(c.leafRows)
    out.writeInt(c.ids.length); c.ids.foreach(out.writeLong)
    floats(c.vecs); out.writeInt(c.dim)
  }

  test("hyperplane bisector math matches hand computation") {
    // a=(0,0), b=(2,0): n=(2,0), mid=(1,0), c=-2 → plane 2x-2=0 (x=1)
    val plane = HyperPlane(Array(2f, 0f), -2f)
    assert(plane.isAbove(Array(3f, 5f)))   // x>1 → above
    assert(!plane.isAbove(Array(0f, 5f)))  // x<1 → below
    assert(plane.isAbove(Array(1f, 0f)))   // tie → above (ref hyperplane.rs:10)
  }

  test("traversal shortfall-spill on a hand-built tree (ref src/lib.rs:105-128)") {
    // x=1 split; left leaf has 1 row, right leaf 3 rows.
    val tree = new TreeBuffers(dim = 1, rows = Array(0, 1, 2, 3))
    val root = tree.inner(tree.addPlane(Array(1f), -1f))
    tree.link(root, tree.leaf(0, 1), tree.leaf(1, 3))
    val m = new AnnForestModel(CompactIndex.concat(
      Seq(tree), Array(10L, 11L, 12L, 13L), Array(0f, 2f, 3f, 4f), dim = 1))
    // query below the plane wants 3: main leaf gives 1, spills 2 from sibling
    val got = m.search(Array(0.5f), 3).map(_._1).toSet
    assert(got.contains(10L))
    assert(got.size === 3)
    // leaf truncation takes FIRST n, not nearest n (ref quirk src/lib.rs:110-113):
    // spilled candidates from right leaf are positions 1,2 (ids 11,12) even
    // though 13 isn't farther from everything.
    assert(got === Set(10L, 11L, 12L))
  }

  test("fit dedup is bit-exact first-seen-wins (driver-side path)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = Seq(
      Row(5L, Seq(1.0f, 0.0f)),   // dup of id 1, higher id — dropped
      Row(1L, Seq(1.0f, 0.0f)),   // first-seen winner (min id)
      Row(2L, Seq(1.0f, -0.0f)),  // -0.0 differs bitwise from 0.0 — kept
      Row(3L, Seq(2.0f, 0.0f)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val m = AnnForest(numTrees = 2, maxLeafSize = 2, seed = 1L)
      .fit(df, "vec_id", "embedding")
    assert(m.ids.toSeq === Seq(1L, 2L, 3L)) // sorted, 5 dropped, -0.0 kept
  }

  test("build is deterministic for a fixed seed") {
    val m2 = AnnForest(50, 5, 42L).fit(emb, "vec_id", "embedding")
    val q = emb.filter($"vec_id" === 7L).head().getSeq[Float](1).toArray
    assert(model.search(q, 10).toSeq === m2.search(q, 10).toSeq)
  }

  test("search returns ≤ k results, ascending distance, ids from corpus") {
    val q = emb.filter($"vec_id" === 3L).head().getSeq[Float](1).toArray
    val res = model.search(q, 10)
    assert(res.length <= 10 && res.nonEmpty)
    assert(res.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
    val allIds = emb.select("vec_id").as[Long].collect().toSet
    assert(res.map(_._1).forall(allIds))
    // self is its own nearest neighbor at distance 0
    assert(res.head._1 === 3L && res.head._2 === 0.0)
  }

  test("recall@10 >= 0.8 vs exact brute-force oracle over 50 queries") {
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val exact = KnnExact.knnBatch(emb, queries, 10)
      .groupBy("query_id").agg(collect_set("neighbor_id").as("truth"))
      .as[(Long, Seq[Long])].collect().toMap
    val approx = model.searchBatch(queries, 10)
      .groupBy("query_id").agg(collect_set("neighbor_id").as("got"))
      .as[(Long, Seq[Long])].collect().toMap
    val recalls = exact.map { case (qid, truth) =>
      approx.getOrElse(qid, Seq.empty).toSet.intersect(truth.toSet).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@10 = $mean%.3f")
    assert(mean >= 0.8, f"recall $mean%.3f below threshold")
  }

  test("searchBatch distributed output matches driver-side search") {
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val batch = model.searchBatch(queries, 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    queries.collect().foreach { r =>
      val qid = r.getLong(0)
      val local = model.search(r.getSeq[Float](1).toArray, 5).map(_._1).toSeq
      assert(batch(qid) === local, s"query $qid")
    }
  }

  test("assignLeaves routes every row to one leaf per tree") {
    val small = AnnForest(numTrees = 4, maxLeafSize = 10, seed = 1L)
      .fit(emb, "vec_id", "embedding")
    val routed = small.assignLeaves(emb.select("vec_id", "embedding"))
    assert(routed.count() === emb.count() * 4)
    assert(routed.groupBy("vec_id").count().filter($"count" =!= 4).count() === 0)
  }

  test("bucketed (100TB-path) knnJoin recall >= broadcast traversal recall") {
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val exact = KnnExact.knnBatch(emb, queries, 10)
      .groupBy("query_id").agg(collect_set("neighbor_id").as("truth"))
      .as[(Long, Seq[Long])].collect().toMap
    val bucketed = model.knnJoinBucketed(emb, queries, 10)
      .groupBy("query_id").agg(collect_set("neighbor_id").as("got"))
      .as[(Long, Seq[Long])].collect().toMap
    val recalls = exact.map { case (qid, truth) =>
      bucketed.getOrElse(qid, Seq.empty).toSet.intersect(truth.toSet).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"bucketed mean recall@10 = $mean%.3f")
    assert(mean >= 0.8)
  }

  test("knnSelfJoinBucketed is result-identical to the two-sided bucketed join") {
    val queries = emb.select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val twoSided = model.knnJoinBucketed(emb, queries, 10)
      .select("query_id", "neighbor_id", "dist", "rank")
    val selfJoin = model.knnSelfJoinBucketed(emb, 10)
      .select("query_id", "neighbor_id", "dist", "rank")
    // exceptAll both ways = multiset equality; distances are float-exact
    // because both paths evaluate the same sqEucDist on the same pairs
    assert(twoSided.exceptAll(selfJoin).count() === 0)
    assert(selfJoin.exceptAll(twoSided).count() === 0)
    // every query's rank-1 has distance 0 (the self pair is always
    // generated; exact duplicates may win the id tiebreak, so assert on
    // the distance, not on neighbor_id == query_id)
    val n = emb.count()
    assert(selfJoin.filter($"rank" === 1 && $"dist" === 0f).count() === n)
    // salt-block decomposition is result-identical for any block count
    val blocked = model.knnSelfJoinBucketed(emb, 10, saltBlocks = 3)
      .select("query_id", "neighbor_id", "dist", "rank")
    assert(blocked.exceptAll(selfJoin).count() === 0)
    assert(selfJoin.exceptAll(blocked).count() === 0)
  }

  test("save/load roundtrip preserves search results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    val small = AnnForest(numTrees = 8, maxLeafSize = 5, seed = 9L)
      .fit(emb, "vec_id", "embedding")
    small.save(dir, spark)
    val loaded = AnnForestModel.load(dir, spark)
    val q = emb.filter($"vec_id" === 11L).head().getSeq[Float](1).toArray
    assert(loaded.search(q, 10).toSeq === small.search(q, 10).toSeq)
    assert(loaded.compact.roots.length === 8)
    assert(layoutDigest(loaded.compact) === layoutDigest(small.compact))
    // the on-disk node table (rows in nodeId order, every field), pinned
    // at its value under the object-tree save: the format is unchanged
    val rows = spark.read.parquet(s"$dir/nodes").as[FlatNode].collect().sortBy(_.nodeId)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { n =>
      md.update(Seq(n.treeId, n.nodeId, n.leftId, n.rightId, if (n.isLeaf) 1 else 0,
          n.constant.map(java.lang.Float.floatToRawIntBits).getOrElse(-7))
        .mkString("", ",", ";").getBytes("UTF-8"))
      n.coeffs.foreach(cs => md.update(
        cs.map(java.lang.Float.floatToRawIntBits).mkString(",").getBytes("UTF-8")))
      md.update(n.leafRows.mkString("[", ",", "]").getBytes("UTF-8"))
    }
    assert(md.digest().map(b => f"$b%02x").mkString ===
      "863e794030fca0c38a6a2ee5b8398f7562328f7dd860d89e250080115751641f")
  }

  test("cosine metric: ANN recall >= 0.8 vs brute-force cosine oracle; roundtrips metric") {
    val cosModel = AnnForest(numTrees = 50, maxLeafSize = 5, seed = 42L, metric = "cosine")
      .fit(emb, "vec_id", "embedding")
    import graft.functions.VectorFunctions.cosine
    val queries = emb.filter($"vec_id" < 30)
    val truth = queries.collect().map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1)
      val top = emb.select($"vec_id",
        cosine($"embedding", lit(qv.toArray)).as("cos"))
        .orderBy($"cos".desc, $"vec_id").limit(10)
        .select("vec_id").as[Long].collect().toSet
      qid -> top
    }.toMap
    val recalls = truth.map { case (qid, t) =>
      val q = emb.filter($"vec_id" === qid).head().getSeq[Float](1).toArray
      val got = cosModel.search(q, 10).map(_._1).toSet
      got.intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    info(f"cosine-metric recall@10 = $mean%.3f")
    assert(mean >= 0.8)
    // metric survives persistence
    val dir = java.nio.file.Files.createTempDirectory("graft_cos").toString
    cosModel.save(dir, spark)
    assert(AnnForestModel.load(dir, spark).metric === "cosine")
  }

  test("cosine metric survives save/load under a file: URI path") {
    val cosModel = AnnForest(numTrees = 8, maxLeafSize = 5, seed = 5L, metric = "cosine")
      .fit(emb, "vec_id", "embedding")
    // `file:/dir/…` is a valid Hadoop URI with no `//`
    val dir = "file:" + java.nio.file.Files.createTempDirectory("graft_cos_uri").toString
    cosModel.save(dir, spark)
    val loaded = AnnForestModel.load(dir, spark)
    assert(loaded.metric === "cosine")
    val q = emb.filter($"vec_id" === 11L).head().getSeq[Float](1).toArray
    assert(loaded.search(q, 10).toSeq === cosModel.search(q, 10).toSeq)
  }

  test("cosine metric: dedup is on RAW vectors (colinear distinct ids both kept)") {
    val df = Seq(
      (0L, Array(1f, 0f)), (1L, Array(2f, 0f)), // colinear, distinct raw
      (2L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val m = AnnForest(numTrees = 4, maxLeafSize = 2, seed = 3L, metric = "cosine")
      .fit(df, "vec_id", "embedding")
    assert(m.ids.toSet === Set(0L, 1L, 2L), "colinear ids must both survive dedup")
    // both colinear vectors are perfect cosine matches for their direction
    val res = m.search(Array(3f, 0f), 2).map(_._1).toSet
    assert(res === Set(0L, 1L))
  }

  test("cosine metric: direct assignLeaves routes raw and pre-normalized vectors identically") {
    val cosModel = AnnForest(numTrees = 8, maxLeafSize = 5, seed = 5L, metric = "cosine")
      .fit(emb, "vec_id", "embedding")
    import graft.functions.VectorFunctions.l2Normalize
    val raw = cosModel.assignLeaves(emb.select($"vec_id", $"embedding"))
      .select("vec_id", "tree_id", "leaf_id").as[(Long, Int, Long)].collect().toSet
    val pre = cosModel.assignLeaves(
      emb.select($"vec_id", l2Normalize($"embedding").as("embedding")))
      .select("vec_id", "tree_id", "leaf_id").as[(Long, Int, Long)].collect().toSet
    assert(raw === pre)
  }

  test("filtered kNN: neighbors satisfy the predicate, recall vs filtered exact") {
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val res = model.knnJoinBucketed(emb, queries, topK = 10,
      corpusFilter = Some($"label" === 3))
    val labels = emb.select($"vec_id", $"label".cast("int"))
      .as[(Long, Int)].collect().toMap
    val got = res.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (_, n) => labels(n) == 3 },
      "every returned neighbor must satisfy the corpus filter")
    val exact = KnnExact.knnBatch(emb.filter($"label" === 3), queries, 10)
      .groupBy("query_id").agg(collect_set("neighbor_id").as("truth"))
      .as[(Long, Seq[Long])].collect().toMap
    val approx = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (qid, truth) =>
      approx.getOrElse(qid, Set.empty[Long]).intersect(truth.toSet).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"filtered-kNN mean recall@10 = $mean%.3f")
    assert(mean >= 0.5, f"filtered recall $mean%.3f below floor")
  }

  test("radius joins: exact-subset property and recall floors (forest + IVF)") {
    val r2 = 1.2535 // q82's threshold — mid-gap in the fixture distances
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val exact = KnnExact.radiusJoin(emb, queries, r2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val forest = model.radiusJoinBucketed(emb, queries, r2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // distances are exact inside buckets — no false positives, ever
    assert(forest.subsetOf(exact), "forest radius must never invent a pair")
    val fRec = forest.size.toDouble / exact.size
    info(f"forest radius recall = $fRec%.3f (${forest.size}/${exact.size})")
    assert(fRec >= 0.7, f"forest radius recall $fRec%.3f below floor")
    // query-side spill widens the found set (never past exact)
    val spilled = model.radiusJoinBucketed(emb, queries, r2, querySpillEps = 0.25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(forest.subsetOf(spilled) && spilled.subsetOf(exact))
    info(f"forest radius recall with spill = ${spilled.size.toDouble / exact.size}%.3f")
    val ivf = IvfIndex(nlist = 16, nprobe = 4, seed = 42L).fit(emb)
      .radiusJoin(emb, queries, r2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.subsetOf(exact), "IVF radius must never invent a pair")
    val iRec = ivf.size.toDouble / exact.size
    info(f"IVF radius recall = $iRec%.3f (${ivf.size}/${exact.size})")
    assert(iRec >= 0.7, f"IVF radius recall $iRec%.3f below floor")
    // single-point traversal radius: whole-leaf candidates, exact subset
    val q3 = emb.filter($"vec_id" === 3L).head().getSeq[Float](1).toArray
    val single = model.searchRadius(q3, r2)
    val truth3 = exact.filter(_._1 == 3L).map(_._2)
    assert(single.map(_._1).toSet.subsetOf(truth3))
    assert(single.head._1 === 3L && single.head._2 === 0.0) // self first
    assert(single.forall(_._2 <= r2))
  }

  test("IVF filtered kNN: corpus predicate respected below the cell join") {
    val queries = emb.filter($"vec_id" < 30)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val got = IvfIndex(nlist = 16, nprobe = 4, seed = 42L).fit(emb)
      .knnJoin(emb, queries, topK = 5, corpusFilter = Some($"label" === 3))
      .select("neighbor_id").as[Long].collect()
    assert(got.nonEmpty)
    val labels = emb.select($"vec_id", $"label".cast("int"))
      .as[(Long, Int)].collect().toMap
    assert(got.forall(labels(_) == 3))
  }

  test("query-side spill routing: recall non-decreasing in eps, first leaf = single-path leaf") {
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val truth = KnnExact.knnBatch(emb, queries, 10)
      .groupBy("query_id").agg(collect_set("neighbor_id").as("t"))
      .as[(Long, Seq[Long])].collect().toMap
    def recallAt(eps: Double): Double = {
      val got = model.knnJoinBucketed(emb, queries, topK = 10, querySpillEps = eps)
        .groupBy("query_id").agg(collect_set("neighbor_id").as("g"))
        .as[(Long, Seq[Long])].collect().toMap
      truth.map { case (q, t) =>
        got.getOrElse(q, Seq.empty).toSet.intersect(t.toSet).size.toDouble / t.size
      }.sum / truth.size
    }
    val r0 = recallAt(0.0)
    val r1 = recallAt(0.25)
    val r2 = recallAt(0.5)
    info(f"bucketed recall@10: eps=0 $r0%.3f, eps=0.25 $r1%.3f, eps=0.5 $r2%.3f")
    // the theorem is eps=0 → eps>0 (main leaf always emitted first);
    // eps-vs-eps under the leaf cap is empirical, not asserted
    assert(r1 >= r0 && r2 >= r0, "spilling must never drop below the single-path walk")
    // the spill walk's first leaf per tree is the single-path leaf
    val q = emb.filter($"vec_id" === 3L).head().getSeq[Float](1).toArray
    val single = model.compact.leafPaths(q).toSet
    val spilled = model.compact.leafPathsSpill(q, 0.5, 4)
    assert(single.subsetOf(spilled.toSet))
    assert(model.compact.leafPathsSpill(q, 0.0, 4).toSet === single)
  }

  test("cosine radius: maxDist = 2(1-minCos) finds exactly cosine-threshold pairs (subset)") {
    import graft.functions.VectorFunctions.cosine
    val cosModel = AnnForest(numTrees = 50, maxLeafSize = 5, seed = 42L, metric = "cosine")
      .fit(emb, "vec_id", "embedding")
    val minCos = 0.4 // q33's near-dup threshold on this fixture
    val queries = emb.filter($"vec_id" < 50)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    // exact truth through the SAME float-normalization pipeline the
    // bucketed path uses (l2Normalize rounds to float — a raw-double
    // cosine truth would disagree on boundary pairs within ~1e-7 of
    // the threshold): squared distance on normalized vectors ≤
    // 2(1−minCos) ⟺ cos ≥ minCos on the unit sphere
    import graft.functions.VectorFunctions.l2Normalize
    val normed = emb.select($"vec_id", l2Normalize($"embedding").as("embedding"))
    val exact = graft.operators.KnnExact.radiusJoin(
        normed,
        normed.filter($"vec_id" < 50)
          .select($"vec_id".as("query_id"), $"embedding".as("qvec")),
        maxDist = 2.0 * (1.0 - minCos))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = cosModel.radiusJoinBucketed(emb, queries, maxDist = 2.0 * (1.0 - minCos))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got.subsetOf(exact),
      "bucketed cosine radius must be a subset of the exact normalized-distance set")
    // and the conversion matches the cosine view of the same pipeline
    val cosView = normed.select($"vec_id".as("neighbor_id"), $"embedding")
      .crossJoin(broadcast(normed.filter($"vec_id" < 50)
        .select($"vec_id".as("query_id"), $"embedding".as("qvec"))))
      .filter(cosine($"embedding", $"qvec") >= minCos - 1e-9)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(cosView))
    // self pair (cos 1) always found; recall floor vs the exact set
    queries.select("query_id").as[Long].collect()
      .foreach(q => assert(got.contains((q, q))))
    val rec = got.size.toDouble / exact.size
    info(f"cosine radius recall = $rec%.3f (${got.size}/${exact.size})")
    assert(rec >= 0.7)
  }

  test("fitted layout is pinned bit for bit (euclidean 50-tree, cosine 8-tree)") {
    // recorded from the earlier object-tree builder; the flat builder
    // must reproduce every array bit for bit
    assert(layoutDigest(model.compact) ===
      "23382436678650b2f112febbf3f72e1ac618addb67f0b4a9d88d8dbff4f42270")
    val cos = AnnForest(numTrees = 8, maxLeafSize = 5, seed = 5L, metric = "cosine")
      .fit(emb, "vec_id", "embedding")
    assert(layoutDigest(cos.compact) ===
      "685eb5823ebe41322cbb790e891c1d5f53fd8049386ebf85bd42507b18cb5622")
  }

  /** 300 queries from the sf0.001 store: every third a stored row as is
    * (so ties and self-matches occur), the rest a stored row plus seeded
    * Gaussian noise. */
  private lazy val pinQueries: Array[Array[Float]] = {
    val store = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).map(_._2)
    val rng = new java.util.Random(17L)
    Array.tabulate(300) { j =>
      val v = store((j * 7) % store.length)
      if (j % 3 == 0) v.clone() else v.map(x => (x + 0.05 * rng.nextGaussian()).toFloat)
    }
  }

  /** SHA-256 per query family over every result of `m` (ids, raw double
    * bits, leaf paths) for [[pinQueries]] — pins the search and routing
    * kernels' output bit for bit. */
  private def resultsDigests(m: AnnForestModel): Map[String, String] = {
    def hits(rs: Iterator[Array[(Long, Double)]]) = sha256 { out =>
      rs.foreach { r =>
        out.writeInt(r.length)
        r.foreach { case (id, d) => out.writeLong(id); out.writeLong(java.lang.Double.doubleToRawLongBits(d)) }
      }
    }
    def paths(rs: Iterator[Array[(Int, Long)]]) = sha256 { out =>
      rs.foreach { r => out.writeInt(r.length); r.foreach { case (t, p) => out.writeInt(t); out.writeLong(p) } }
    }
    val c = m.compact
    val stored = Iterator.range(0, c.ids.length).map(r => c.vecs.slice(r * c.dim, (r + 1) * c.dim))
    Map(
      "search@1" -> hits(pinQueries.iterator.map(m.search(_, 1))),
      "search@10" -> hits(pinQueries.iterator.map(m.search(_, 10))),
      "search@37" -> hits(pinQueries.iterator.map(m.search(_, 37))),
      "searchExact@10" -> hits(pinQueries.iterator.map(q => c.searchExact(q, 10))),
      "searchExact@37" -> hits(pinQueries.iterator.map(q => c.searchExact(q, 37))),
      "searchRadius" -> hits(pinQueries.iterator.map(m.searchRadius(_, 1.2535))),
      "leafPaths" -> paths(stored.map(c.leafPaths)),
      "leafPathsSpill" -> paths(pinQueries.iterator.map(q => c.leafPathsSpill(q, 0.25, 4))))
  }

  test("search and routing results are pinned bit for bit (euclidean 50-tree, cosine 8-tree)") {
    val cos = AnnForest(numTrees = 8, maxLeafSize = 5, seed = 5L, metric = "cosine")
      .fit(emb, "vec_id", "embedding")
    // recorded from the recursive one-tree-at-a-time walk
    assert(resultsDigests(model) === Map(
      "leafPaths" -> "feeb58b1e30a798ef08db6417e6a32b4fa148dd9a94b5a5cdda8e8a606f1e775",
      "leafPathsSpill" -> "86696d03098ce234fc43ac290e0ee6e884f3bf08d768871035e083e58dc5d246",
      "search@1" -> "4694bd7529f50785d3e1c057e8daf3ee82404cab36b3b56630880a0873e49c7a",
      "search@10" -> "0eb07f391e3b52d08a821ae974bd6bad8bd367f2db2512fb3f4791c70c007984",
      "search@37" -> "1416075f265409b8007f7c96e03b9de0544b507e940d8a54867e367f12a94660",
      "searchExact@10" -> "ba390c700c82ac359eedcad2e2b9e1dbeb879549973de4f2a9074c558c6d7ff0",
      "searchExact@37" -> "7090596b0ede6ed8c4062f8d612d7823dd38d0bce16a5c66dc0153d9e24fc890",
      "searchRadius" -> "d80ddc6ecf0475bbddd1b90d1d4d21129ba93bb6214609e7c2800efac7d570aa"))
    assert(resultsDigests(cos) === Map(
      "leafPaths" -> "42b3c1df8f70c56025ea3b8f8fe1851b055fb4222df7aa4900ca704248378937",
      "leafPathsSpill" -> "58313845fad33f389b7d2893b11642a4a15026707c20d0d2d939874079c153a6",
      "search@1" -> "93d8a84d5ae5ab7dfe1c6ebd1ff7a7fbcb6a0332b532c5bf5be0e8357218f1d9",
      "search@10" -> "599b4e2f85be4224e923eef52317e1e59aa31dcd510aa18a18e944c24247aaed",
      "search@37" -> "d71ce7e4c0f34574497164767dfed1c7306c5b68e02a2bbdd7359df6f961bdc3",
      "searchExact@10" -> "c281aef82e230134e54a74210d451f611e18925e0497816941b385f36084b965",
      "searchExact@37" -> "b6fe67ebc98366df248e94190239be0a2ae177fe185a03aeb98aa7578ec9a8f2",
      "searchRadius" -> "47b0147d47029b999e26db89f2195d8265bf456f997cce7f5e00e6943441aee9"))
  }

  /** The recursive one-tree-at-a-time walk [[CompactIndex]] ran before
    * its four-lane kernel, over the index's public arrays: the
    * differential oracle for every query kernel. */
  private object ScalarWalk {
    def margin(c: CompactIndex, p: Int, q: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < c.dim) { acc += c.planeCoef(p * c.dim + i).toDouble * q(i); i += 1 }
      acc + c.planeConst(p)
    }

    private def candidates(c: CompactIndex, q: Array[Float], n: Int, node: Int,
        out: scala.collection.mutable.HashSet[Int]): Int =
      if (c.left(node) < 0) {
        val take = math.min(n, c.leafLen(node))
        (0 until take).foreach(i => out += c.leafRows(c.leafOff(node) + i))
        take
      } else {
        val above = margin(c, c.planeIdx(node), q) >= 0.0
        val main = if (above) c.right(node) else c.left(node)
        val backup = if (above) c.left(node) else c.right(node)
        val k = candidates(c, q, n, main, out)
        if (k < n) k + candidates(c, q, n - k, backup, out) else k
      }

    private def ranked(c: CompactIndex, q: Array[Float], rows: Iterable[Int]): Array[(Long, Double)] = {
      val scored = rows.map { r =>
        (c.ids(r), (0 until c.dim).foldLeft(0.0) { (acc, i) =>
          val d = c.vecs(r * c.dim + i).toDouble - q(i).toDouble
          acc + d * d
        })
      }.toArray
      java.util.Arrays.sort(scored, (a: (Long, Double), b: (Long, Double)) => {
        val o = java.lang.Double.compare(a._2, b._2)
        if (o != 0) o else java.lang.Long.compare(a._1, b._1)
      })
      scored
    }

    def search(c: CompactIndex, q: Array[Float], k: Int): Array[(Long, Double)] = {
      val cand = scala.collection.mutable.HashSet.empty[Int]
      c.roots.foreach(candidates(c, q, k, _, cand))
      ranked(c, q, cand).take(k)
    }

    def searchExact(c: CompactIndex, q: Array[Float], k: Int): Array[(Long, Double)] =
      ranked(c, q, c.ids.indices).take(k)

    private def descend(c: CompactIndex, q: Array[Float], t: Int): (Int, Long) = {
      var node = c.roots(t)
      var path = 1L
      while (c.left(node) >= 0) {
        val above = margin(c, c.planeIdx(node), q) >= 0.0
        node = if (above) c.right(node) else c.left(node)
        path = 2 * path + (if (above) 1 else 0)
      }
      (node, path)
    }

    def leafPaths(c: CompactIndex, q: Array[Float]): Array[(Int, Long)] =
      c.roots.indices.map(t => (t, descend(c, q, t)._2)).toArray

    def searchRadius(c: CompactIndex, q: Array[Float], maxDist: Double): Array[(Long, Double)] = {
      val rows = c.roots.indices.flatMap { t =>
        val leaf = descend(c, q, t)._1
        (0 until c.leafLen(leaf)).map(i => c.leafRows(c.leafOff(leaf) + i))
      }.distinct
      ranked(c, q, rows).filter(_._2 <= maxDist)
    }

    def leafPathsSpill(c: CompactIndex, q: Array[Float], eps: Double, maxLeaves: Int): Array[(Int, Long)] = {
      def norm(p: Int) = math.sqrt((0 until c.dim).foldLeft(0.0) { (acc, i) =>
        acc + c.planeCoef(p * c.dim + i).toDouble * c.planeCoef(p * c.dim + i)
      })
      c.roots.indices.flatMap { t =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        var stack = List((c.roots(t), 1L))
        while (stack.nonEmpty && out.length < maxLeaves) {
          val (node, path) = stack.head
          stack = stack.tail
          if (c.left(node) < 0) out += ((t, path))
          else {
            val acc = margin(c, c.planeIdx(node), q)
            val above = acc >= 0.0
            if (math.abs(acc) < eps * norm(c.planeIdx(node)))
              stack = (if (above) c.left(node) else c.right(node), 2 * path + (if (above) 0L else 1L)) :: stack
            stack = (if (above) c.right(node) else c.left(node), 2 * path + (if (above) 1L else 0L)) :: stack
          }
        }
        out
      }.toArray
    }
  }

  private val specials = Array(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f)

  /** A random forest over `n` rows built straight through [[TreeBuffers]]:
    * random leaf sizes 1–4, and a mix of planes — random; through a
    * stored row (a stored-row query ties, and ties go above); all-zero
    * (every finite query ties); and, at dim ≥ 3, 2^60·x_i − 2^60·x_j +
    * x_k − 1 with i < j < k, whose margin for an all-ones query is 0
    * summed in index order and −1 summed backwards. The store repeats
    * vectors under distinct ids (one of them all ones) and carries NaN,
    * ±Inf and −0.0 components. */
  private def randomIndex(rng: java.util.Random, n: Int, dim: Int, trees: Int): CompactIndex = {
    val vecs = Array.fill(n * dim)(rng.nextGaussian().toFloat)
    if (n > 0) java.util.Arrays.fill(vecs, 0, dim, 1f)
    (1 until n).foreach { r =>
      if (rng.nextInt(5) == 0) System.arraycopy(vecs, rng.nextInt(r) * dim, vecs, r * dim, dim)
      else if (rng.nextInt(6) == 0) vecs(r * dim + rng.nextInt(dim)) = specials(rng.nextInt(specials.length))
    }
    val ids = new scala.util.Random(rng).shuffle((0 until n).map(i => 100L + 3 * i)).toArray
    val plane = new Array[Float](dim)
    val bufs = (0 until trees).map { _ =>
      val tree = new TreeBuffers(dim, new scala.util.Random(rng).shuffle((0 until n).toVector).toArray)
      def addPlane(): Int = {
        java.util.Arrays.fill(plane, 0f)
        var c = 0f
        rng.nextInt(if (dim >= 3) 4 else 3) match {
          case 0 =>
            plane.indices.foreach(i => plane(i) = rng.nextGaussian().toFloat)
            c = rng.nextGaussian().toFloat
          case 1 =>
            val j = rng.nextInt(dim)
            plane(j) = 1f
            c = -vecs(rng.nextInt(n) * dim + j)
          case 2 =>
            c = if (rng.nextBoolean()) 0f else -0.0f
          case _ =>
            val Array(i, j, k) = new scala.util.Random(rng).shuffle((0 until dim).toVector).take(3).sorted.toArray
            plane(i) = math.pow(2, 60).toFloat; plane(j) = -plane(i); plane(k) = 1f
            c = -1f
        }
        tree.addPlane(plane, c)
      }
      def grow(lo: Int, hi: Int, depth: Int): Int =
        if (hi - lo <= 1 + rng.nextInt(4) || depth >= 12) tree.leaf(lo, hi - lo)
        else {
          val node = tree.inner(addPlane())
          val mid = lo + 1 + rng.nextInt(hi - lo - 1)
          tree.link(node, grow(lo, mid, depth + 1), grow(mid, hi, depth + 1))
          node
        }
      grow(0, n, 0)
      tree
    }
    CompactIndex.concat(bufs, ids, vecs, dim)
  }

  test("four-lane kernels equal the recursive scalar walk on random forests") {
    def bits(r: Array[(Long, Double)]) = r.toSeq.map { case (i, d) => (i, java.lang.Double.doubleToRawLongBits(d)) }
    val rng = new java.util.Random(2024L)
    val empty = CompactIndex.concat(Seq.fill(3)(new TreeBuffers(0, Array.emptyIntArray)).map { t =>
      t.leaf(0, 0); t
    }, Array.emptyLongArray, Array.emptyFloatArray, dim = 0)
    val cases = (empty, Seq(Array(0f, 0f), Array.emptyFloatArray)) +: (for {
      dim <- Seq(1, 3, 7, 64)
      trees <- Seq(1, 3, 5, 50)
    } yield {
      val n = 20 + rng.nextInt(40)
      val c = randomIndex(rng, n, dim, trees)
      val stored = (0 until n).map(r => c.vecs.slice(r * dim, (r + 1) * dim))
      val odd = Seq.fill(12) {
        val q = Array.fill(dim)(rng.nextGaussian().toFloat)
        q(rng.nextInt(dim)) = specials(rng.nextInt(specials.length))
        q
      }
      (c, stored ++ odd ++ Seq(Array.fill(dim)(1f), Array.fill(dim)(0f), Array.fill(dim)(-0.0f),
        Array.fill(dim)(rng.nextGaussian().toFloat)))
    })
    var checked = 0
    cases.foreach { case (c, queries) =>
      val ks = Seq(-1, 0, 1, 5, 10, c.ids.length + 3)
      queries.foreach { q =>
        def where = s"dim ${c.dim}, ${c.roots.length} trees, q ${q.mkString("[", ",", "]")}"
        ks.foreach { k =>
          assert(bits(c.search(q, k)) === bits(ScalarWalk.search(c, q, k)), s"search k=$k, $where")
          assert(bits(c.searchExact(q, k)) === bits(ScalarWalk.searchExact(c, q, k)), s"searchExact k=$k, $where")
        }
        Seq(0.0, 2.0, Double.PositiveInfinity).foreach { r =>
          assert(bits(c.searchRadius(q, r)) === bits(ScalarWalk.searchRadius(c, q, r)), s"searchRadius $r, $where")
        }
        assert(c.leafPaths(q).toSeq === ScalarWalk.leafPaths(c, q).toSeq, s"leafPaths, $where")
        for (eps <- Seq(0.0, 0.3, Double.PositiveInfinity); cap <- Seq(1, 3))
          assert(c.leafPathsSpill(q, eps, cap).toSeq === ScalarWalk.leafPathsSpill(c, q, eps, cap).toSeq,
            s"leafPathsSpill $eps/$cap, $where")
        checked += 1
      }
    }
    info(s"$checked queries over ${cases.length} indexes")
  }

  /** Messages down an exception's cause chain (Spark wraps task failures). */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private lazy val smallIndex = AnnForest(numTrees = 3, maxLeafSize = 5, seed = 1L)
    .fit(emb, "vec_id", "embedding").compact

  Seq[(String, (CompactIndex, Array[Float]) => Any)](
    "search" -> (_.search(_, 5)),
    "searchExact" -> (_.searchExact(_, 5)),
    "searchRadius" -> (_.searchRadius(_, 1.0)),
    "leafPaths" -> (_.leafPaths(_)),
    "leafPathsSpill" -> (_.leafPathsSpill(_, 0.25, 4))
  ).foreach { case (entry, call) =>
    test(s"CompactIndex.$entry rejects null and wrong-length queries by name") {
      for (c <- Seq(smallIndex, smallIndex.structureOnly)) {
        Seq(Array.fill(65)(0f) -> "query has 65 dims, the index has 64",
            Array.fill(63)(0f) -> "query has 63 dims, the index has 64",
            (null: Array[Float]) -> "query vector is null").foreach { case (q, why) =>
          val e = intercept[IllegalArgumentException](call(c, q))
          assert(e.getMessage.contains(s"CompactIndex.$entry: $why"))
        }
      }
    }
  }

  test("searchBatch rejects null and wrong-length query vectors by name") {
    val m = new AnnForestModel(smallIndex)
    Seq(Seq(1L -> Array.fill(3)(0f)) -> "query has 3 dims, the index has 64",
        Seq(1L -> (null: Array[Float])) -> "query vector is null").foreach { case (rows, why) =>
      val e = intercept[Exception](m.searchBatch(rows.toDF("query_id", "qvec"), 5).collect())
      assert(messages(e).contains(s"CompactIndex.search: $why"), messages(e))
    }
  }

  test("assignLeaves rejects null and wrong-length vectors by name") {
    val m = new AnnForestModel(smallIndex)
    for (eps <- Seq(0.0, 0.25)) {
      val entry = if (eps > 0) "leafPathsSpill" else "leafPaths"
      Seq(Seq(1L -> Array.fill(65)(0f)) -> "query has 65 dims, the index has 64",
          Seq(1L -> (null: Array[Float])) -> "query vector is null").foreach { case (rows, why) =>
        val e = intercept[Exception](
          m.assignLeaves(rows.toDF("vec_id", "embedding"), spillEps = eps).collect())
        assert(messages(e).contains(s"CompactIndex.$entry: $why"), messages(e))
      }
    }
  }

  test("SQL knn faces reject null and wrong-length query vectors by name") {
    new AnnForestModel(smallIndex).registerSql(spark, "t_dim_knn", "t_dim_knn_exact")
    Seq("t_dim_knn" -> "search", "t_dim_knn_exact" -> "searchExact").foreach { case (fn, entry) =>
      Seq(Seq(1L -> Array.fill(2)(0f)) -> "query has 2 dims, the index has 64",
          Seq(1L -> (null: Array[Float])) -> "query vector is null").foreach { case (rows, why) =>
        rows.toDF("query_id", "qvec").createOrReplaceTempView("t_dim_q")
        val e = intercept[Exception](spark.sql(s"SELECT $fn(qvec, 5) FROM t_dim_q").collect())
        assert(messages(e).contains(s"CompactIndex.$entry: $why"), messages(e))
      }
    }
  }

  test("empty and single-row frames: search, searchBatch and save/load") {
    val queries = Seq((1L, Array(0f, 0f))).toDF("query_id", "qvec")
    val empty = AnnForest(numTrees = 3, maxLeafSize = 5, seed = 1L)
      .fit(Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"))
    val one = AnnForest(numTrees = 3, maxLeafSize = 5, seed = 1L)
      .fit(Seq((7L, Array(1f, 2f))).toDF("vec_id", "embedding"))
    def roundtrip(m: AnnForestModel): AnnForestModel = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ann_edge").toString
      m.save(dir, spark)
      AnnForestModel.load(dir, spark)
    }
    for (m <- Seq(empty, roundtrip(empty))) {
      assert(m.ids.isEmpty)
      assert(m.search(Array(0f, 0f), 5).isEmpty)
      assert(m.searchBatch(queries, 5).count() === 0)
    }
    for (m <- Seq(one, roundtrip(one))) {
      assert(m.ids.toSeq === Seq(7L))
      assert(m.search(Array(0f, 0f), 5).toSeq === Seq((7L, 5.0)))
      assert(m.searchBatch(queries, 5).as[(Long, Long, Double, Int)].collect().toSeq ===
        Seq((1L, 7L, 5.0, 1)))
    }
  }

  test("degenerate corpus (all-identical vectors) terminates via dedup+guard") {
    val df = (0L until 100L).map(i => (i, Array(1f, 1f))).toDF("vec_id", "embedding")
    val m = AnnForest(5, 2, 7L).fit(df, "vec_id", "embedding")
    val res = m.search(Array(1f, 1f), 3)
    assert(res.length === 1 && res.head._1 === 0L) // dedup keeps first
  }
}
