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

  /** SHA-256 over every layout array of `c`, floats as raw bits — pins
    * the builder's output bit for bit. */
  private def layoutDigest(c: CompactIndex): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val out = new java.io.DataOutputStream(new java.security.DigestOutputStream(
      java.io.OutputStream.nullOutputStream(), md))
    def ints(a: Array[Int]): Unit = { out.writeInt(a.length); a.foreach(out.writeInt) }
    def floats(a: Array[Float]): Unit = {
      out.writeInt(a.length); a.foreach(f => out.writeInt(java.lang.Float.floatToRawIntBits(f)))
    }
    ints(c.roots); ints(c.left); ints(c.right); ints(c.planeIdx)
    floats(c.planeCoef); floats(c.planeConst)
    ints(c.leafOff); ints(c.leafLen); ints(c.leafRows)
    out.writeInt(c.ids.length); c.ids.foreach(out.writeLong)
    floats(c.vecs); out.writeInt(c.dim)
    out.flush()
    md.digest().map(b => f"$b%02x").mkString
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
